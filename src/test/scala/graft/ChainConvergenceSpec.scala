package graft

import graft.operators.DedupOps

/** Round-11 log-round convergence pin for the CC loop.
  *
  * The round-10 verdict's adversarial shape: a crawl of incremental
  * page edits forms a near-dup CHAIN — each adjacent pair shares one
  * LSH bucket, nothing else — so the bucket graph has diameter ≈ n
  * and the neighbor-min-only loop needs ≥ n/2 rounds of
  * full-membership shuffles (2 propagation steps per round, horizon
  * +2 per round). The pointer-jumping shortcut added in round 11
  * (`comp ← comp(comp)` after each double-step) roughly doubles the
  * label-pointer horizon per round, so the same chain converges in
  * O(log n) rounds. ComponentsSpec pins CORRECTNESS on chains; this
  * spec pins the ROUND BOUND, via the counted loop seam — if a
  * refactor ever drops the jump step, a 65-link chain jumps from ~7
  * rounds back to 32+ and this test fails loudly. */
class ChainConvergenceSpec extends SparkSpec {

  /** Chain membership: bucket i (band 0) holds exactly {i, i+1} —
    * the same planting as ComponentsSpec.chainBk, sized up. */
  private def chainBk(links: Int) = {
    import spark.implicits._
    (0 until links).flatMap(i =>
        Seq((i.toLong, 0L, i.toLong), (i.toLong + 1, 0L, i.toLong)))
      .toDF("doc_id", "band", "bucket")
  }

  test("a 65-doc / 64-link chain converges in <= 2*ceil(log2 n) + 3 " +
      "rounds (neighbor-only loop needs >= 32)") {
    val links = 64
    val n = links + 1
    val (labels, rounds) = DedupOps.propagateMinLabelsCounted(chainBk(links))
    val byDoc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc.size == n)
    assert(byDoc.values.forall(_ == 0L),
      "every chain member labels to min doc 0")
    val bound = 2 * math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 3
    assert(rounds <= bound,
      s"chain of $n docs took $rounds rounds (log-round bound $bound; " +
        s"the neighbor-only loop needs >= ${links / 2}) — did the " +
        "pointer-jump step regress?")
    Checkpointing.release(labels)
  }

  test("pointer jumping does not change the fixpoint on a dense " +
      "cluster + chain mix") {
    import spark.implicits._
    // dense cluster {200..204} all sharing bucket 900 (band 0), plus a
    // 9-link chain 0..9 — labels must be the per-component min ids,
    // exactly the neighbor-only fixpoint
    val bk = ((0 until 9).flatMap(i =>
        Seq((i.toLong, 0L, i.toLong), (i.toLong + 1, 0L, i.toLong))) ++
      (200 to 204).map(i => (i.toLong, 0L, 900L)))
      .toDF("doc_id", "band", "bucket")
    val (labels, _) = DedupOps.propagateMinLabelsCounted(bk)
    val byDoc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L to 9L).forall(byDoc(_) == 0L))
    assert((200L to 204L).forall(byDoc(_) == 200L))
    Checkpointing.release(labels)
  }
}
