package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.EventOps

/** PageRank, TrustRank and HITS against plain-Scala `Long` references
  * written straight from the Scaladoc formulas of
  * `EventOps.pagerankOf` / `EventOps.hitsOf`, on seeded random graphs
  * that have dangling nodes, real self-loops (which stack with the
  * zero-share self-loop row), nodes with no in-edges, a single node,
  * and a personalized base. Also pins the round shape: after its
  * static setup `pagerankOf` runs one shuffle-free job per round. */
class RankReferenceSpec extends SparkSpec {
  import spark.implicits._

  private val E = EventOps.PrEdgeScale
  private val S = EventOps.HitsScale

  /** Node ids (sparse, so the dense index is exercised) and distinct
    * weighted edges: a third of the nodes never emit an edge, a
    * quarter never receive one, and the first node that may do both
    * also loops to itself. */
  private def graph(seed: Long, n: Int): (Seq[Long], Seq[(Long, Long, Long)]) = {
    val rnd = new scala.util.Random(seed)
    val ids = Seq.tabulate(n)(i => 1000L + 7L * i)
    val srcs = ids.filter(_ => rnd.nextInt(3) != 0)
    val dsts = ids.filter(_ => rnd.nextInt(4) != 0)
    val random =
      if (srcs.isEmpty || dsts.isEmpty) Seq.empty
      else Seq.fill(3 * n)((srcs(rnd.nextInt(srcs.size)),
        dsts(rnd.nextInt(dsts.size))))
    val loop = srcs.find(dsts.contains).map(u => (u, u))
    (ids, (random ++ loop).distinct.map { case (u, v) =>
      (u, v, 1L + rnd.nextInt(5)) })
  }

  private def frames(ids: Seq[Long], edges: Seq[(Long, Long, Long)])
      : (DataFrame, DataFrame) =
    (ids.toDF("node"), edges.toDF("src", "dst", "w"))

  /** new(v) = base(v) + (85·(Σ_{u→v} (rank_u·share_uv) div 10⁶ + D))
    * div 100, share_uv = (w_uv·10⁶) div W_out(u),
    * D = Σ_{u dangling} (rank_u·(10⁶ div N)) div 10⁶, from
    * rank = 10¹² div N. */
  private def refPagerank(ids: Seq[Long], edges: Seq[(Long, Long, Long)],
      base: Long => Long): Map[Long, Long] = {
    val n = ids.size.toLong
    val tw = edges.groupMapReduce(_._1)(_._3)(_ + _)
    val share = edges.map { case (u, v, w) => (u, v, w * E / tw(u)) }
    val dangling = ids.filterNot(tw.contains)
    var rank = ids.map(_ -> EventOps.PrScale / n).toMap
    for (_ <- 1 to EventOps.PrIters) {
      val sumc = share.groupMapReduce(_._2) { case (u, _, sh) =>
        rank(u) * sh / E }(_ + _)
      val dmass = dangling.map(u => rank(u) * (E / n) / E).sum
      rank = ids.map(v => v -> (base(v) +
        EventOps.PrDampNum * (sumc.getOrElse(v, 0L) + dmass) / 100L)).toMap
    }
    rank
  }

  /** h_0 = S div N; a = l1(Aᵀh), h = l1(A·a) per round, where
    * l1(x) = x·S div Σx (x itself when Σx = 0). */
  private def refHits(ids: Seq[Long], edges: Seq[(Long, Long, Long)])
      : (Map[Long, Long], Map[Long, Long]) = {
    def l1(x: Map[Long, Long]): Map[Long, Long] = {
      val t = x.values.sum
      if (t == 0L) x else x.map { case (k, v) => k -> v * S / t }
    }
    def spread(vec: Map[Long, Long], key: ((Long, Long, Long)) => Long,
        from: ((Long, Long, Long)) => Long): Map[Long, Long] = {
      val sums = edges.groupMapReduce(key)(e => vec(from(e)) * e._3)(_ + _)
      ids.map(v => v -> sums.getOrElse(v, 0L)).toMap
    }
    var h = ids.map(_ -> S / ids.size).toMap
    var a = ids.map(_ -> 0L).toMap
    for (_ <- 1 to EventOps.HitsIters) {
      a = l1(spread(h, _._2, _._1))
      h = l1(spread(a, _._1, _._2))
    }
    (a, h)
  }

  /** (name, node ids, edges): n = 1 without and with its self-loop,
    * then seeded random graphs. */
  private val cases: Seq[(String, Seq[Long], Seq[(Long, Long, Long)])] =
    Seq(("n=1", Seq(1000L), Seq.empty),
      ("n=1 self-loop", Seq(1000L), Seq((1000L, 1000L, 3L)))) ++
      Seq(3L -> 2, 4L -> 37, 5L -> 400).map { case (seed, n) =>
        val (ids, edges) = graph(seed, n)
        (s"seed $seed, n=$n", ids, edges)
      }

  test("the random graphs cover dangling nodes, real self-loops and " +
      "nodes with no in-edges") {
    cases.drop(3).foreach { case (name, ids, edges) =>
      val (srcs, dsts) = (edges.map(_._1).toSet, edges.map(_._2).toSet)
      assert(ids.exists(!srcs(_)) && ids.exists(!dsts(_)), name)
      assert(edges.exists(e => e._1 == e._2), name)
    }
  }

  test("pagerankOf matches the Long reference on every node of " +
      "seeded random graphs") {
    cases.foreach { case (name, ids, edges) =>
      val (nodes, edgesDf) = frames(ids, edges)
      val got = EventOps.pagerankOf(nodes, edgesDf, ids.size.toLong)
        .select(col("node"), col("rank_scaled")).as[(Long, Long)]
        .collect().toMap
      val uniform = (EventOps.PrScale * 15L / 100L) / ids.size
      assert(got == refPagerank(ids, edges, _ => uniform), name)
    }
  }

  test("personalized base (TrustRank) matches the Long reference") {
    cases.zipWithIndex.foreach { case ((name, ids, edges), i) =>
      val (nodes, edgesDf) = frames(ids, edges)
      val rnd = new scala.util.Random(i)
      val seeds = ids.filter(_ => rnd.nextInt(4) == 0).toSet + ids.last
      val seedBase = (EventOps.PrScale * 15L / 100L) / seeds.size
      val base = (v: Long) => if (seeds(v)) seedBase else 0L
      val baseRel = ids.map(v => (v, base(v), if (seeds(v)) 1L else 0L))
        .toDF("node", "base", "is_seed")
      val got = EventOps.pagerankOf(nodes, edgesDf, ids.size.toLong,
          Some(baseRel))
        .select(col("node"), col("rank_scaled"), col("is_seed"))
        .as[(Long, Long, Long)].collect()
      assert(got.map(r => r._1 -> r._2).toMap ==
        refPagerank(ids, edges, base), name)
      assert(got.forall(r => (r._3 == 1L) == seeds(r._1)))
    }
  }

  test("hitsOf matches the Long reference on every node of seeded " +
      "random graphs") {
    cases.foreach { case (name, ids, edges) =>
      val (nodes, edgesDf) = frames(ids, edges)
      val got = EventOps.hitsOf(nodes, edgesDf, ids.size.toLong)
        .select(col("node"), col("auth_scaled"), col("hub_scaled"))
        .as[(Long, Long, Long)].collect()
      val (a, h) = refHits(ids, edges)
      assert(got.map(r => r._1 -> r._2).toMap == a, s"authority, $name")
      assert(got.map(r => r._1 -> r._3).toMap == h, s"hub, $name")
    }
  }

  test("after its static setup pagerankOf runs exactly PrIters jobs, " +
      "one stage each and no shuffle") {
    val jobs = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += e; () }
    }
    val (ids, edges) = graph(4L, 37)
    val (nodes, edgesDf) = frames(ids, edges)
    def jobsOf(rounds: Int): Seq[SparkListenerJobStart] = {
      org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
      val before = jobs.synchronized(jobs.size)
      EventOps.pagerankOf(nodes, edgesDf, ids.size.toLong, rounds = rounds)
      org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
      jobs.synchronized(jobs.drop(before).toSeq)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val static = jobsOf(0)
      val full = jobsOf(EventOps.PrIters)
      assert(full.size == static.size + EventOps.PrIters,
        s"static setup ${static.size} jobs, full run ${full.size}")
      full.takeRight(EventOps.PrIters).foreach { j =>
        // one result stage with no parent stage reads no shuffle and
        // writes none
        assert(j.stageInfos.size == 1 && j.stageInfos.head.parentIds.isEmpty,
          s"round job ${j.jobId} has stages ${j.stageInfos.map(_.name)}")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
