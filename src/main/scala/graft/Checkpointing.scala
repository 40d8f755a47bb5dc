package graft

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.IndexCache

/** The engine's lineage-cut seam and its one iteration loop.
  *
  * [[cut]] materializes a relation eagerly and truncates its lineage
  * to a `LogicalRDD` leaf. When the session conf [[DirKey]] names a
  * checkpoint directory (HDFS/S3/DBFS on a cluster, any path locally)
  * the cut is a reliable `Dataset.checkpoint`, recoverable by reading
  * its files after an executor loss; when it is unset (the local and
  * test default) the cut is an executor-local `localCheckpoint`. Both
  * modes leave the same plan, so results are identical
  * (CheckpointingSpec pins the iterative and index gate queries
  * hash-equal across modes, and one `rdd-*` directory per reliable
  * cut).
  *
  * Every iteration runs in [[driverRounds]], which holds the state on
  * the driver and counts rounds; it never cuts. A distributed round
  * is one [[vectorRound]]: the driver's vector is broadcast, one
  * narrow job folds each partition of a [[roundRelation]] (a static
  * relation cut once), and the driver combines the partials. PageRank,
  * TrustRank, HITS, PCA, connected components and k-core peeling
  * iterate this way; their results come back as a [[sortedFrame]],
  * already in presentation order. A step whose state is a relation
  * (Lloyd's k-means) cuts it itself and releases the state it
  * supersedes. A driver-held round costs one job, where a relational
  * round costs about a dozen: the per-round cost is coordination, not
  * work (Drizzle, SOSP'17). Every run reports its round count.
  *
  * Storage hygiene: [[release]] is the one way a cut's executor
  * BLOCKS are freed, in either mode. A leaf may be read by a cached
  * index entry as well as by the frame being released (a merged index
  * unions the corpus index's cut with its own delta cut), so
  * [[release]] frees only the leaves no live
  * [[graft.operators.IndexCache]] entry reads; the cache frees its
  * evicted entries, racing-build losers and invalidations through the
  * same call. Reliable-mode FILES under the checkpoint dir are owned
  * by the cluster operator (set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` to have
  * Spark GC them with the RDD, or sweep the directory per job — the
  * standard operational contract for `sc.setCheckpointDir`).
  */
object Checkpointing {
  /** Session conf key. Unset/empty → executor-local cuts (single-host
    * posture); a path → reliable checkpoints into that directory
    * (cluster posture). Read per-cut from the calling Dataset's own
    * session, so `newSession()` clones (the streaming replay harness)
    * inherit whatever the parent had at clone time. */
  val DirKey = "spark.graft.checkpointDir"

  // setCheckpointDir is context-global and append-only per call (each
  // call creates a fresh UUID subdir); only re-invoke when the
  // configured path actually changes
  @volatile private var configuredDir: String = null

  def cut[T](ds: Dataset[T]): Dataset[T] = {
    val dir = ds.sparkSession.conf.get(DirKey, "")
    if (dir.isEmpty) ds.localCheckpoint(true)
    else {
      val sc = ds.sparkSession.sparkContext
      if (configuredDir != dir) synchronized {
        if (configuredDir != dir) {
          sc.setCheckpointDir(dir)
          configuredDir = dir
        }
      }
      ds.checkpoint(true)
    }
  }

  /** The RDDs behind `df`'s checkpoint leaves: the `LogicalRDD`s a
    * [[cut]] leaves in its plan. */
  def leaves(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case l: LogicalRDD => l.rdd
    }

  /** Frees the blocks of each checkpoint leaf of `df` that no live
    * [[graft.operators.IndexCache]] entry reads. These blocks are
    * invisible to the CacheManager, so `Dataset.unpersist()` never
    * frees them; they go through [[org.apache.spark.GraftUnpersist]],
    * which skips `RDD.unpersist`'s per-leaf lineage-truncation WARN.
    * Exception-safe: a leaf of a stopped context cannot block the
    * rest. */
  def release(df: DataFrame): Unit = IndexCache.synchronized {
    val live = IndexCache.liveLeaves
    leaves(df).filterNot(rdd => live(rdd.id))
      .foreach(rdd => scala.util.Try(org.apache.spark.GraftUnpersist(rdd)))
  }

  /** Iterates `step` from `init` until it returns `None` or has run
    * `maxRounds` times; returns the last state and the number of steps
    * that produced one. A fixed-round loop always returns `Some`. Each
    * run writes one stderr line:
    * `{"fixpoint":"<name>","rounds":<rounds>,"ms":<wall ms>}`. */
  def driverRounds[T](name: String, init: T, maxRounds: Int)(
      step: T => Option[T]): (T, Int) = {
    val t0 = System.nanoTime()
    @annotation.tailrec
    def go(state: T, rounds: Int): (T, Int) =
      (if (rounds < maxRounds) step(state) else None) match {
        case None => (state, rounds)
        case Some(next) => go(next, rounds + 1)
      }
    val out = go(init, 0)
    val ms = (System.nanoTime() - t0) / 1000000
    System.err.println(s"""{"fixpoint":"$name","rounds":${out._2},"ms":$ms}""")
    out
  }

  /** The most keys a [[vectorRound]] vector may have: 2²² longs are
    * 32 MiB, and a round holds the broadcast vector, its result and
    * the collected partials on the driver at once. */
  val MaxRoundKeys: Int = 1 << 22

  /** The static side of [[vectorRound]]: `rel` [[cut]] once and read
    * by ordinal as `R` rows — reliable mode then covers the relation
    * every round reads. A fold that needs all rows of a key in one
    * partition gets `rel` partitioned on that key. */
  def roundRelation[R <: Product : TypeTag](rel: DataFrame): RDD[R] =
    cut(rel).as[R](Encoders.product[R]).rdd

  /** One round over a driver-held vector: `vec` is broadcast, `fold`
    * turns each partition of `rel` into (key, partial) pairs, and the
    * driver merges the partials of each key with `combine` into a dense
    * vector of `keys` entries (0 for a key with no pair). A sum combine
    * is `Math.addExact`, which fails on overflow like ANSI `sum`. One
    * job and no shuffle: `rel` is a [[roundRelation]] leaf. */
  def vectorRound[R](rel: RDD[R], vec: Array[Long], keys: Int,
      combine: (Long, Long) => Long)(
      fold: (Array[Long], Iterator[R]) => Iterator[(Int, Long)])
      : Array[Long] = {
    require(keys <= MaxRoundKeys, s"a driver round over $keys keys " +
      s"exceeds Checkpointing.MaxRoundKeys = $MaxRoundKeys")
    val bc = rel.sparkContext.broadcast(vec)
    try {
      val out = new Array[Long](keys)
      val seen = new java.util.BitSet(keys)
      rel.mapPartitions(rows => fold(bc.value, rows)).collect()
        .foreach { case (k, part) =>
          out(k) = if (seen.get(k)) combine(out(k), part) else part
          seen.set(k)
        }
      out
    } finally bc.destroy()
  }

  /** A driver-built frame of `rows` under `schema`, in presentation
    * order: sorted on the driver by Spark's ascending order of the
    * first `keys` columns (`RowOrdering`: nulls first, strings by
    * UTF-8 bytes, doubles by `SQLOrderingUtil`), the order `orderBy`
    * on them gives, so no Sort is planned over the frame. */
  def sortedFrame(s: SparkSession, schema: StructType, keys: Int,
      rows: Seq[Row]): DataFrame = {
    val internal = CatalystTypeConverters.createToCatalystConverter(schema)
    val order = RowOrdering.createNaturalAscendingOrdering(
      schema.take(keys).map(_.dataType).toSeq)
    val sorted = rows.map(r => internal(r).asInstanceOf[InternalRow] -> r)
      .sortWith((a, b) => order.compare(a._1, b._1) < 0).map(_._2)
    s.createDataFrame(sorted.asJava, schema)
  }

  /** A [[sortedFrame]] keyed by the `key` column of the collected rows
    * `table`: row i holds that value of `table(i)` and element i of
    * each named vector, as a non-null BIGINT column. */
  def denseFrame(s: SparkSession, table: Array[Row], key: StructField,
      cols: (String, Array[Long])*): DataFrame =
    sortedFrame(s,
      StructType(key +: cols.map(c => StructField(c._1, LongType, false))),
      1, table.indices.map(i =>
        Row.fromSeq(table(i).getAs[Any](key.name) +: cols.map(_._2(i)))))
}
