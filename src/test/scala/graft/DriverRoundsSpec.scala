package graft

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SimilarityOps

/** The driver-round seam of [[Checkpointing]]: a [[Checkpointing.vectorRound]]
  * is one shuffle-free job whatever its fold, PCA runs one such job per
  * power round, a [[Checkpointing.sortedFrame]] comes back in the order
  * `orderBy` gives, and the six queries built on the seam keep their
  * output schemas and presentation order with no Sort in their plans. */
class DriverRoundsSpec extends SparkSpec {
  import spark.implicits._

  /** The jobs `body` starts, after the listener queue has drained. */
  private def jobsOf(body: => Any): Seq[SparkListenerJobStart] = {
    val jobs = mutable.ArrayBuffer.empty[SparkListenerJobStart]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs += e; () }
    }
    org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftListenerFlush.flush(spark.sparkContext)
      jobs.synchronized(jobs.toSeq)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** One result stage with no parent stage reads no shuffle and writes
    * none. */
  private def assertNarrow(j: SparkListenerJobStart): Unit =
    assert(j.stageInfos.size == 1 && j.stageInfos.head.parentIds.isEmpty,
      s"job ${j.jobId} has stages ${j.stageInfos.map(_.name)}")

  test("vectorRound with a per-key max fold equals a plain-Scala " +
      "recomputation, in one job of one stage") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)(
      (rnd.nextInt(10).toLong, rnd.nextInt(6).toLong, rnd.nextInt(21) - 10L))
    val vec = Array.tabulate(6)(i => 3L * i - 7L)
    // keys 10 and 11 have no row, so they must come back as 0
    val keys = 12
    val rel = Checkpointing.roundRelation[(Long, Long, Long)](
      rows.toDF("k", "f", "x").repartition(4, col("k")))
    assert(rel.getNumPartitions >= 3)
    // every key lives in one partition, so the driver's sum of
    // per-partition maxima is the per-key max
    def maxFold(v: Array[Long], part: Iterator[(Long, Long, Long)])
        : Iterator[(Int, Long)] =
      part.toSeq.groupMapReduce(_._1)(r => v(r._2.toInt) * r._3)(math.max)
        .iterator.map { case (k, m) => (k.toInt, m) }
    var got = Array.empty[Long]
    val jobs = jobsOf {
      got = Checkpointing.vectorRound(rel, vec, keys)(maxFold)
    }
    val want = rows.groupMapReduce(_._1)(r => vec(r._2.toInt) * r._3)(math.max)
    assert(got.toSeq == (0 until keys).map(k => want.getOrElse(k.toLong, 0L)))
    assert(jobs.size == 1, s"${jobs.size} jobs")
    jobs.foreach(assertNarrow)
  }

  test("vectorRound fails on a sum that overflows a long") {
    val rel = Checkpointing.roundRelation[(Long, Long, Long)](
      Seq((0L, 0L, Long.MaxValue), (0L, 0L, 1L)).toDF("k", "f", "x")
        .repartition(2))
    val e = intercept[ArithmeticException] {
      Checkpointing.vectorRound(rel, Array(1L), 1) { (_, part) =>
        part.map(r => (r._1.toInt, r._3))
      }
    }
    assert(e.getMessage.contains("overflow"))
  }

  test("sortedFrame is in the order orderBy gives: nulls first, " +
      "strings by UTF-8 bytes, doubles with NaN largest") {
    val schema = StructType(Seq(StructField("s", StringType),
      StructField("d", DoubleType), StructField("id", LongType, false)))
    val strings = Seq("b", null, "é", "Z", "ａ", "a", "😀", "ab", "")
    val doubles = Seq(Double.NaN, -0.0, 0.0, Double.NegativeInfinity, 1.5,
      -2.0, Double.PositiveInfinity, 0.0, Double.NaN)
    val rows = strings.zip(doubles).zipWithIndex.map { case ((s, d), i) =>
      Row(s, d, i.toLong) }
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().toSeq
    val byS = Checkpointing.sortedFrame(spark, schema, 1, rows)
    assert(ids(byS) == ids(local.orderBy("s")))
    // -0.0 = 0.0 and NaN = NaN: the id breaks those ties
    val byDId = Checkpointing.sortedFrame(spark,
      StructType(Seq(schema("d"), schema("id"), schema("s"))), 2,
      rows.map(r => Row(r.get(1), r.get(2), r.get(0))))
    assert(ids(byDId) == ids(local.orderBy("d", "id")))
    assert(!byS.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]))
  }

  test("principalDir runs exactly PcaIters more jobs than its static " +
      "setup, one narrow job per round") {
    val static = jobsOf(SimilarityOps.principalDir(0)(spark, Sf).collect())
    val full = jobsOf(
      SimilarityOps.principalDir(SimilarityOps.PcaIters)(spark, Sf).collect())
    assert(full.size == static.size + SimilarityOps.PcaIters,
      s"static setup ${static.size} jobs, full run ${full.size}")
    full.takeRight(SimilarityOps.PcaIters).foreach(assertNarrow)
  }

  /** Each query's presentation key and its output schema as
    * `name:type:nullable`, on a populated and on an empty corpus (the
    * rank queries' empty branch builds `rank` from a literal). */
  private val pins: Seq[(String, Seq[String], String, String)] = {
    def rank(id: String, rest: String, emptyRank: Boolean) =
      (s"$id:bigint:true,rank_scaled:bigint:false,rank:double:true$rest",
        s"$id:bigint:true,rank_scaled:bigint:false," +
          s"rank:double:$emptyRank$rest")
    val (pr, prEmpty) = rank("user_id", "", emptyRank = false)
    val (tr, trEmpty) = rank("user_id", ",is_seed:bigint:false", false)
    val hits = "user_id:bigint:true,auth_scaled:bigint:false," +
      "hub_scaled:bigint:false,authority:double:true,hub:double:true"
    val pca = "dim:bigint:false,v_scaled:bigint:true,loading:double:true"
    val mmr = "query_id:bigint:true,step:bigint:false,cand_id:bigint:true," +
      "rel:double:true,maxsim:double:true,score:double:true"
    Seq(
      ("emb_principal_dir", Seq("dim"), pca, pca),
      ("ann_mmr_diversify", Seq("query_id", "step"), mmr, mmr),
      ("ev_type_pagerank", Seq("event_type"),
        pr.replace("user_id:bigint", "event_type:string"),
        prEmpty.replace("user_id:bigint", "event_type:string")),
      ("ev_user_pagerank", Seq("user_id"), pr, prEmpty),
      ("ev_user_trustrank", Seq("user_id"), tr, trEmpty),
      ("ev_user_hits", Seq("user_id"), hits, hits))
  }

  private lazy val emptyDir: String = {
    val dst = tmpDir("graft-empty-rounds")
    Seq("events", "embeddings").foreach { t =>
      spark.read.parquet(s"$Sf/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    dst
  }

  /** Spark's ascending order on one key value: nulls first, strings by
    * UTF-8 bytes, longs numerically. */
  private def compareKey(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: Long, y: Long) => x.compare(y)
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))
    case _ => fail(s"unexpected key values $a, $b")
  }

  test("the six driver-round queries keep their schema, come back " +
      "sorted by their presentation key, and plan no Sort") {
    for ((dir, populated) <- Seq(Sf -> true, emptyDir -> false);
         (name, key, schema, emptySchema) <- pins) {
      val df = SparkEntry.queries(name)(spark, dir)
      val got = df.schema.fields
        .map(f => s"${f.name}:${f.dataType.simpleString}:${f.nullable}")
        .mkString(",")
      assert(got == (if (populated) schema else emptySchema), s"$name at $dir")
      assert(!df.queryExecution.optimizedPlan.exists(_.isInstanceOf[Sort]),
        s"$name at $dir plans a Sort")
      val rows = df.collect().toSeq
      assert(rows.nonEmpty == populated, s"$name at $dir")
      val sorted = rows.sortWith { (a, b) =>
        key.iterator.map(k => compareKey(a.getAs[Any](k), b.getAs[Any](k)))
          .find(_ != 0).exists(_ < 0)
      }
      assert(rows == sorted, s"$name at $dir is not in presentation order")
    }
  }
}
