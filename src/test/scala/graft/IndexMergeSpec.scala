package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing.charHash
import graft.operators.DedupOps

/** The daily-ingest contract of `dedup_index_merge`: the delta
  * batch's bucket rows are APPENDED to the persisted corpus index —
  * only the O(delta) appended rows may be computed and materialized,
  * the corpus side must reuse the existing cached blocks, and the
  * merged relation must equal a from-scratch rebuild over
  * corpus ∪ delta bit-for-bit.
  */
class IndexMergeSpec extends SparkSpec {

  test("merge materializes ONLY the appended delta rows — the cached " +
      "corpus index is reused, not rebuilt") {
    operators.IndexCache.invalidateAll()
    // warm the corpus index through an ordinary consumer
    assert(SparkEntry.queries("dedup_lsh_pairs")(spark, Sf).count() >= 0)
    val keysBefore = DedupOps.cacheKeys.filter(_._2 == Sf)
    assert(keysBefore.nonEmpty, "corpus index must be cached before the merge")
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val out = SparkEntry.queries("dedup_index_merge")(spark, Sf).collect()
    assert(out.nonEmpty)

    // exactly ONE new persisted relation: the delta-rows checkpoint
    // (compare IDs, not counts — unpersist elsewhere is async)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size === 1,
      s"merge must materialize only the appended rows, saw new: $added")
    assert(DedupOps.cacheKeys.filter(_._2 == Sf) === keysBefore,
      "the corpus index cache entry must be untouched by the merge")
  }

  test("merged index equals a from-scratch rebuild over corpus ∪ delta") {
    val merged = SparkEntry.queries("dedup_index_merge")(spark, Sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"),
        r.getAs[Long]("bucket")))
    // independent rebuild: the same derived batch, indexed from
    // scratch together with the corpus (what a full mtime rebuild
    // would produce)
    val docs = graft.sources.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text"))
    val delta = docs
      .filter(charHash(col("doc_id").cast("string")) % 10 === DedupOps.DeltaTag)
      .select((col("doc_id") + DedupOps.DeltaIdOffset).as("doc_id"),
        concat(lit("UPDATE: "), col("text")).as("text"))
    val rebuild = DedupOps.bucketRows(docs.unionByName(delta))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"),
        r.getAs[Long]("bucket")))
    assert(merged.sorted.toSeq === rebuild.sorted.toSeq,
      "append-merge must be indistinguishable from a full rebuild")
  }
}
