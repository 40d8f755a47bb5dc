package graft

import graft.operators.SimilarityOps

/** The embedding-side mirror of IndexMergeSpec: `ann_index_merge`
  * appends the delta batch's (bucket, norm) rows to the persisted ANN
  * index — only the O(delta) appended rows may be materialized, and
  * the corpus index entry must be reused untouched. (Merge ≡ rebuild
  * bit-equality, double norms included, is the oracle gate's job.)
  */
class AnnIndexMergeSpec extends SparkSpec {

  test("ANN merge materializes ONLY the appended delta rows — the " +
      "cached corpus index is reused, not rebuilt") {
    operators.IndexCache.invalidateAll()
    // warm the corpus index through an ordinary consumer
    assert(SparkEntry.queries("ann_lsh_probe")(spark, Sf).count() >= 0)
    val keysBefore = SimilarityOps.cacheKeys.filter(_._2 == Sf)
    assert(keysBefore.nonEmpty, "ANN index must be cached before the merge")
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val out = SparkEntry.queries("ann_index_merge")(spark, Sf).collect()
    assert(out.nonEmpty)

    // exactly ONE new persisted relation: the delta-rows checkpoint
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size === 1,
      s"merge must materialize only the appended rows, saw new: $added")
    assert(SimilarityOps.cacheKeys.filter(_._2 == Sf) === keysBefore,
      "the ANN index cache entry must be untouched by the merge")

    // structure: every delta id is offset, every corpus id present
    val ids = out.map(_.getAs[Long]("vec_id")).toSet
    val nDelta = ids.count(_ >= graft.operators.DedupOps.DeltaIdOffset)
    assert(nDelta > 0, "the derived delta batch must be non-empty")
    assert(ids.size === out.length, "vec_id must stay unique after merge")
  }
}
