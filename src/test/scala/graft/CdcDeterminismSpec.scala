package graft

import org.apache.spark.sql.execution.LogicalRDD

import graft.operators.MultimodalOps

/** Round-7 pin for the driver's one red row (CORRECTNESS_r06:
  * `text_cdc_dedup` hash mismatch at sf0.01, unreproduced locally):
  * the shared chunk store's FULL consumer family runs repeatedly in
  * ONE session — interleaved with `newSession()` replay clones (the
  * stream gates' shape), a forced chunk-store eviction, and consumers
  * re-running after the eviction — and `text_cdc_dedup`'s output must
  * be byte-identical every time.
  *
  * Two structural pins back the behavioral one: the chunk store is a
  * lineage-cut `localCheckpoint` (no silent-recompute path exists for
  * a consumer to race), and a `newSession()` clone gets the SAME
  * relation object from the context-keyed cache (round 6's
  * session-keyed cache had every replay clone re-running the build
  * closure and publishing an unevictable twin entry).
  */
class CdcDeterminismSpec extends SparkSpec {

  /** Whole-result canonical form: every column of every row, in the
    * query's own total order. */
  private def canon(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, Sf).collect().map(_.toString).toSeq

  private val Family = Seq("mm_cdc_dedup", "mm_near_dup",
    "stream_cdc_candidates", "stream_cdc_strip", "text_cdc_remove",
    "mm_cdc_store_merge", "dedup_delta_probe")

  test("text_cdc_dedup is byte-identical across repeated consumer-family " +
      "runs, replay-clone interleaving, and forced chunk-store eviction") {
    operators.IndexCache.invalidateAll()
    val baseline = canon("text_cdc_dedup")
    assert(baseline.nonEmpty, "pinned corpus must produce cross-doc pairs")
    for (round <- 1 to 3) {
      // every consumer of the shared chunk store, in one session;
      // stream_cdc_candidates runs a newSession() replay clone inside
      Family.foreach(q => SparkEntry.queries(q)(spark, Sf).collect())
      assert(canon("text_cdc_dedup") === baseline,
        s"round $round: diverged after consumer-family run")
      // forced mid-family eviction: the rebuild must be bit-identical
      operators.IndexCache.invalidateAll()
      assert(canon("text_cdc_dedup") === baseline,
        s"round $round: diverged after forced eviction + rebuild")
    }
  }

  test("a newSession() clone reuses the parent's chunk-store relation " +
      "(context-keyed cache), and the relation is lineage-cut") {
    operators.IndexCache.invalidateAll()
    val parent = MultimodalOps.chunkStore(spark, Sf)
    // lineage is CUT: the plan bottoms out in a checkpointed RDD, so
    // no consumer can ever trigger a divergent re-scan of the parquet
    assert(parent.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LogicalRDD]),
      "chunk store must be a localCheckpoint (LogicalRDD leaves)")
    val clone = spark.newSession()
    val fromClone = MultimodalOps.chunkStore(clone, Sf)
    assert(fromClone eq parent,
      "replay clone must get the SAME cached relation, not build a twin")
    // and the clone can execute it (cross-session reuse is sound)
    assert(fromClone.count() === parent.count())
  }
}
