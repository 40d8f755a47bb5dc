package perfbench

/** The delivery ledger: every sent message must sit in exactly one
  * sink with the content the reference's enrichers give it. Expected
  * content is recomputed here in plain Scala, independently of the
  * Spark expressions under test. */
object Ledger {
  /** One ok-sink row: the message id, the nested input echo, the three
    * enrichments and the service result. */
  final case class OkRow(id: Long, inputId: Long, inputValue: String,
      extra1: String, extra2: String, extra3: String, additional: String)
  final case class DlqRow(id: Long, value: String, errorClass: String)

  /** @param delivered messages in exactly one sink with expected content
    * @param lost      in neither sink
    * @param dual      in both sinks, or twice in one
    * @param wrong     present with content other than expected
    * @param unknown   sink rows whose id was never sent */
  final case class Tally(attempted: Long, delivered: Long, lost: Long,
      dual: Long, wrong: Long, unknown: Long, okRows: Long, dlqRows: Long) {
    def failed: Long = attempted - delivered
  }

  def expectedOk(seed: Long, id: Long): OkRow = {
    val v = Messages.value(seed, id)
    OkRow(id, id, v, v.reverse, v.toUpperCase(java.util.Locale.ROOT),
      v.sorted, s"transformed $id")
  }

  private val FaultClasses =
    Set(FaultModel.TemporaryClass, FaultModel.UnrecoverableClass)

  def rightOk(seed: Long, r: OkRow): Boolean = r == expectedOk(seed, r.id)
  def rightDlq(seed: Long, r: DlqRow): Boolean =
    r.value == Messages.value(seed, r.id) && FaultClasses(r.errorClass)

  /** Counts ids `0 until sent`. A message with wrong content counts as
    * wrong even if it is also lost from or duplicated in a sink. */
  def tally(seed: Long, sent: Long, ok: Iterator[OkRow],
      dlq: Iterator[DlqRow]): Tally = {
    require(sent <= Int.MaxValue, s"ledger holds at most 2^31 ids: $sent")
    val n = sent.toInt
    val seen = new Array[Byte](n)
    val bad = new java.util.BitSet(n)
    var unknown, okRows, dlqRows = 0L
    def see(id: Long): Boolean =
      if (id < 0 || id >= n) { unknown += 1; false }
      else {
        if (seen(id.toInt) < Byte.MaxValue) seen(id.toInt) = (seen(id.toInt) + 1).toByte
        true
      }
    ok.foreach { r =>
      okRows += 1
      if (see(r.id) && !rightOk(seed, r)) bad.set(r.id.toInt)
    }
    dlq.foreach { r =>
      dlqRows += 1
      if (see(r.id) && !rightDlq(seed, r)) bad.set(r.id.toInt)
    }
    var delivered, lost, dual = 0L
    var i = 0
    while (i < n) {
      if (!bad.get(i)) seen(i) match {
        case 0 => lost += 1
        case 1 => delivered += 1
        case _ => dual += 1
      }
      i += 1
    }
    Tally(sent, delivered, lost, dual, bad.cardinality().toLong, unknown,
      okRows, dlqRows)
  }
}

object Stats {
  /** Nearest-rank percentile, `q` in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty && q > 0 && q <= 1, s"percentile($q) of ${xs.size}")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def statusKb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith(key + ":") =>
        l.drop(key.length + 1).trim.split("\\s+")(0).toDouble
    }.getOrElse(0.0)
    finally src.close()
  }

  /** VmHWM: the process's peak resident set, MiB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  private def heapPools = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  }
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
