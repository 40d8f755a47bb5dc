package graft.model

/** The reference's message data model, re-expressed as Spark-encodable
  * case classes (reference: Services.scala:26-35).
  *
  * These are the four types that flow through the enrichment pipeline:
  * `Data` is the raw input message, `EnrichedData` the result of the
  * 3-way fan-out enrichment (reverse / uppercase / char-sort), and
  * `OutputData` the final transformed record handed to the output
  * store. `Widget` wraps the char-sorted value as a nested struct
  * (Services.scala:29,56-59).
  *
  * On the DataFrame surface these become nested STRUCT columns; the
  * typed `Dataset[T]` surface uses `Encoders.product` derived from
  * these classes via `spark.implicits._`.
  */
final case class Data(id: Long, value: String)

final case class Widget(name: String)

final case class EnrichedData(
    input: Data,
    extra1: String, // reversed value (Services.scala:47-49)
    extra2: String, // upper-cased value (Services.scala:51-53)
    extra3: Widget // char-sorted value (Services.scala:56-59)
)

final case class OutputData(data: EnrichedData, additional: String)
