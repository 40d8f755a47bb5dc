package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** Label propagation on adversarial graph SHAPES the real LSH corpus
  * never produces: real near-dup clusters are small and dense
  * (diameter 1-2), but an incremental paraphrase chain yields a
  * long-diameter graph — exactly the case where (a) a fixed iteration
  * cap would abort, and (b) a persist()-only loop stacks an O(D)-deep
  * logical plan. Round 3 had both failure modes; this pins their
  * absence. */
class ComponentsSpec extends SparkSpec {

  /** Chain: docs 0..10, bucket i (band 0) holds {i, i+1} — a single
    * component of diameter 10 (needs ~5 double-steps, well past the
    * 1-2 a dense LSH cluster takes). */
  private def chainBk(n: Int) = {
    import spark.implicits._
    (0 until n).flatMap(i => Seq((i.toLong, 0L, i.toLong), (i.toLong + 1, 0L, i.toLong)))
      .toDF("doc_id", "band", "bucket")
  }

  test("diameter-10 chain graph converges to one component") {
    val labels = DedupOps.propagateMinLabels(chainBk(10))
    val rows = labels.orderBy("doc_id").collect()
    assert(rows.length === 11)
    assert(rows.forall(_.getLong(1) === 0L), "every doc labels to min doc 0")
    Checkpointing.release(labels)
  }

  test("plan depth stays O(1) in iteration count (localCheckpoint per step)") {
    val labels = DedupOps.propagateMinLabels(chainBk(10))
    // after ~5 double-steps a persist()-only loop would carry dozens
    // of stacked join/agg nodes; the checkpointed result is a single
    // leaf relation (plus at most trivial wrappers)
    val nodeCount = labels.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodeCount <= 3,
      s"expected a checkpoint-truncated plan, got $nodeCount nodes:\n" +
        labels.queryExecution.optimizedPlan.treeString)
    Checkpointing.release(labels)
  }

  test("Checkpointing.release frees checkpoint-backed blocks that " +
      "Dataset.unpersist cannot reach") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val labels = DedupOps.propagateMinLabels(chainBk(10))
    // the loop frees every superseded intermediate itself; only the
    // final checkpoint may remain
    val afterRun = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(afterRun.size <= 1,
      s"intermediate checkpoints must be freed by the loop: $afterRun")
    // Dataset.unpersist is a CacheManager no-op on a checkpointed plan;
    // release must actually drop the blocks (async — poll)
    labels.unpersist()
    Checkpointing.release(labels)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(leaked.isEmpty, s"checkpoint blocks still pinned: $leaked")
  }

  test("two disjoint chains keep separate component labels") {
    import spark.implicits._
    // chain A: docs 0..5 via buckets 0..4; chain B: docs 100..105 via
    // buckets 100..104 — no shared bucket, so labels must not bleed
    val bk = ((0 until 5).flatMap(i =>
        Seq((i.toLong, 0L, i.toLong), (i.toLong + 1, 0L, i.toLong))) ++
      (0 until 5).flatMap(i =>
        Seq((100L + i, 0L, 100L + i), (101L + i, 0L, 100L + i))))
      .toDF("doc_id", "band", "bucket")
    val labels = DedupOps.propagateMinLabels(bk)
    val byDoc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 5L).forall(byDoc(_) === 0L))
    assert((100L to 105L).forall(byDoc(_) === 100L))
    Checkpointing.release(labels)
  }
}
