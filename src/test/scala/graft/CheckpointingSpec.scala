package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.operators.{EventOps, SimilarityOps}

/** Round-11 durable-checkpoint seam ([[Checkpointing]]).
  *
  * Every iterative lineage cut in the engine routes through
  * `Checkpointing.cut`: executor-local (`localCheckpoint`) by default,
  * RELIABLE (`Dataset.checkpoint` against `spark.graft.checkpointDir`)
  * when the cluster operator sets the conf — the posture a
  * 1000-executor spot-instance deployment needs, where an executor
  * loss mid-PageRank must be recoverable by re-reading checkpoint
  * files rather than killing the job. Both modes materialize eagerly
  * and truncate lineage identically, so results are bit-identical by
  * construction; this spec pins that on the iterative and index gate
  * queries, and pins the file-layout contract (exactly one
  * checkpoint RDD directory per cut) that makes reliable mode
  * auditable. */
class CheckpointingSpec extends SparkSpec {
  import CheckpointingSpec._

  /** The iterative family: every loop that runs in
    * [[Checkpointing.driverRounds]] — PageRank, TrustRank, HITS, PCA
    * power iteration, k-core, Lloyd's k-means and connected components
    * through each of their callers (lexical, delta + index-merge path,
    * semantic) — which cut their static relations, and Lloyd's cut of
    * each round's centroids. Then one consumer of each index cut in
    * [[operators.IndexCache]] (LSH buckets, ANN index, PQ codes,
    * perceptual index, label centroids) and of the merged chunk store,
    * whose entry reads the chunk store's leaf. */
  private val IterativeGates = Seq(
    "ev_user_pagerank", "ev_user_trustrank",
    "dedup_components", "dedup_components_delta", "emb_components",
    "ev_user_hits", "ev_user_kcore", "kmeans_stability",
    "emb_principal_dir",
    "dedup_lsh_pairs", "ann_ivf", "emb_pq_encode", "mm_near_dup",
    "kmeans_assign", "mm_cdc_store_merge")

  /** The component/index caches memoize across runs — without a reset
    * the second mode would replay the FIRST mode's cached relation and
    * prove nothing. */
  private def resetCaches(): Unit = operators.IndexCache.invalidateAll()

  private def rowsOf(name: String): Seq[String] = {
    resetCaches()
    SparkEntry.queries(name)(spark, Sf).collect().map(_.toString).toSeq
  }

  test("reliable mode is hash-identical to local mode on every " +
      "iterative gate query, and actually writes checkpoints") {
    val local = IterativeGates.map(n => n -> rowsOf(n)).toMap
    val dir = tmpDir("graft-ckpt")
    spark.conf.set(Checkpointing.DirKey, dir)
    try {
      val reliable = IterativeGates.map(n => n -> rowsOf(n)).toMap
      IterativeGates.foreach { n =>
        assert(local(n).nonEmpty, s"$n returned no rows at $Sf")
        assert(local(n) == reliable(n),
          s"$n diverged between localCheckpoint and reliable checkpoint")
      }
      assert(rddDirsUnder(dir).nonEmpty,
        "reliable mode ran but no checkpoint RDD directory was written " +
          "— the seam silently fell back to localCheckpoint")
    } finally {
      spark.conf.unset(Checkpointing.DirKey)
      resetCaches()
      deleteTree(dir)
    }
  }

  test("reliable mode: ev_user_pagerank cuts nothing per round — as " +
      "many rdd-* dirs as a run that stops after its static setup") {
    def dirsOf(rounds: Int): Int = {
      val dir = tmpDir("graft-ckpt-rounds")
      spark.conf.set(Checkpointing.DirKey, dir)
      try {
        assert(EventOps.userPagerank(rounds)(spark, Sf).collect().nonEmpty)
        rddDirsUnder(dir).size
      } finally {
        spark.conf.unset(Checkpointing.DirKey)
        deleteTree(dir)
      }
    }
    val static = dirsOf(0)
    assert(static > 0, "the static setup must cut in reliable mode")
    assert(dirsOf(EventOps.PrIters) == static,
      s"${EventOps.PrIters} rounds wrote checkpoints beyond the " +
        s"$static of the static setup")
  }

  test("reliable mode: emb_principal_dir cuts nothing per round") {
    def dirsOf(rounds: Int): Int = {
      val dir = tmpDir("graft-ckpt-pca")
      spark.conf.set(Checkpointing.DirKey, dir)
      try {
        assert(SimilarityOps.principalDir(rounds)(spark, Sf).collect()
          .nonEmpty)
        rddDirsUnder(dir).size
      } finally {
        spark.conf.unset(Checkpointing.DirKey)
        deleteTree(dir)
      }
    }
    val static = dirsOf(0)
    assert(static > 0, "the static setup must cut in reliable mode")
    assert(dirsOf(SimilarityOps.PcaIters) == static,
      s"${SimilarityOps.PcaIters} rounds wrote checkpoints beyond the " +
        s"$static of the static setup")
  }

  test("one cut in reliable mode writes exactly one checkpoint RDD " +
      "directory; a second cut adds exactly one more") {
    import spark.implicits._
    val dir = tmpDir("graft-ckpt-one")
    spark.conf.set(Checkpointing.DirKey, dir)
    try {
      val a = Checkpointing.cut(Seq(1L, 2L, 3L).toDF("x"))
      assert(a.count() == 3L)
      assert(rddDirsUnder(dir).size == 1,
        s"one cut must write one rdd-* dir, saw ${rddDirsUnder(dir)}")
      val b = Checkpointing.cut(a.selectExpr("x * 2 as x"))
      assert(b.count() == 3L)
      assert(rddDirsUnder(dir).size == 2,
        "each cut must write its own checkpoint, nothing more")
    } finally {
      spark.conf.unset(Checkpointing.DirKey)
      deleteTree(dir)
    }
  }

  test("reliable mode: each round that cuts writes one rdd dir, init none") {
    // the shape of Lloyd's k-means: each driverRounds step cuts the new
    // state and releases the one it supersedes
    val dir = tmpDir("graft-ckpt-rounds")
    spark.conf.set(Checkpointing.DirKey, dir)
    try {
      val init = spark.range(1, 4).toDF("x")
      val (out, rounds) = Checkpointing.driverRounds("spec-reliable", init,
          3) { d =>
        val next = Checkpointing.cut(d.selectExpr("x * 2 as x"))
        if (d ne init) Checkpointing.release(d)
        Some(next)
      }
      assert(rounds == 3)
      assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
        Seq(8L, 16L, 24L))
      assert(rddDirsUnder(dir).size == 3,
        s"3 rounds must write 3 rdd-* dirs, saw ${rddDirsUnder(dir)}")
      Checkpointing.release(out)
    } finally {
      spark.conf.unset(Checkpointing.DirKey)
      deleteTree(dir)
    }
  }

  test("releasing a local cut logs no lineage-truncation WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    assert(spark.conf.get(Checkpointing.DirKey, "").isEmpty,
      "the run must cut with localCheckpoint")
    assert(LogManager.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
      .isEnabled(Level.WARN), "WARN must reach the capture")
    val a = Checkpointing.cut(spark.range(0, 10).toDF("x"))
    val b = Checkpointing.cut(a.selectExpr("x + 1 as x"))
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("release-warn-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) {
          warns.add(e.getMessage.getFormattedMessage); ()
        }
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getRootLogger
    root.addAppender(capture)
    try Checkpointing.release(a)
    finally {
      root.removeAppender(capture)
      capture.stop()
    }
    val truncation =
      warns.asScala.filter(_.contains("was locally checkpointed"))
    assert(truncation.isEmpty, s"release logged: $truncation")
    assert(b.collect().map(_.getLong(0)).sorted.toSeq == (1L to 10L))
    Checkpointing.release(b)
  }

  test("default mode (conf unset) stays executor-local: no files, " +
      "plan truncated to a leaf") {
    import spark.implicits._
    val probe = tmpDir("graft-ckpt-none")
    deleteTree(probe) // must not exist afterwards either
    val cut = Checkpointing.cut(Seq(1L, 2L).toDF("x"))
    assert(cut.count() == 2L)
    assert(rddDirsUnder(probe).isEmpty)
    val nodes = cut.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodes <= 3, "cut must truncate lineage in local mode too")
    Checkpointing.release(cut)
  }
}

object CheckpointingSpec {
  /** Checkpoint RDD directories (`rdd-*`) under `dir`. */
  def rddDirsUnder(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator().asScala
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("rdd-"))
      .toSeq
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse
        .foreach(p => Files.deleteIfExists(p))
  }
}
