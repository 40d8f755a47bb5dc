package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted-index cache keyed by (SparkContext, dataset dir, source
  * file mtime), shared by [[DedupOps]] (LSH buckets) and
  * [[SimilarityOps]] (ANN bucket+norm index). Context-keyed so
  * `newSession()` clones reuse the parent's relation (see the note on
  * the map below).
  *
  * The mtime in the key makes an in-place overwrite of the source
  * parquet rebuild transparently; [[getOrBuild]] additionally EVICTS
  * the superseded entry (unpersist + remove) the moment a new mtime is
  * seen for the same (context, dir) — round 2 left stale relations
  * pinned in executor storage until a manual invalidate. Entries whose
  * context has been stopped are evicted on the same sweep (a stopped
  * context's persisted blocks are gone anyway; keeping the entry just
  * pins the dead objects).
  *
  * A FAILED mtime stat (`None`) is a no-op, not an eviction: the
  * caller gets whatever live entry exists for (session, dir) — round
  * 3 keyed stat failures as 0L, so one transient IOException evicted
  * and rebuilt a healthy index and then left the 0-keyed orphan
  * persisted until the next successful stat.
  */
private[graft] object IndexCache {
  /** Unpersist the checkpoint-backed blocks behind `df` (the RDDs
    * inside `LogicalRDD` leaves). These are invisible to the
    * CacheManager, so `Dataset.unpersist()` can never free them —
    * without this they stay pinned until JVM GC. Freed through
    * [[org.apache.spark.GraftUnpersist]], which skips
    * `RDD.unpersist`'s per-leaf lineage-truncation WARN. */
  private def freeCheckpoints(df: DataFrame): Unit = {
    scala.util.Try {
      df.queryExecution.optimizedPlan.foreach {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          org.apache.spark.GraftUnpersist(l.rdd)
        case _ => ()
      }
    }
    ()
  }

  /** Release EVERY block behind a cached relation: the CacheManager
    * entry (plain `persist()` builds) AND any checkpoint RDDs
    * (`localCheckpoint()` builds). */
  def release(df: DataFrame): Unit = {
    scala.util.Try(df.unpersist())
    freeCheckpoints(df)
  }

  /** Free a racing-build LOSER. Checkpoint blocks are always private
    * to the losing build (each `localCheckpoint` materializes its own
    * RDD), but a plain `persist()` of the same deterministic plan
    * SHARES the winner's CacheManager entry — a Dataset-level
    * unpersist here would evict the winner's storage with it
    * (IndexCacheSpec pins exactly this), so only the checkpoint-backed
    * blocks are freed. */
  def releaseLoser(df: DataFrame): Unit = freeCheckpoints(df)
}

private[graft] final class IndexCache {
  import IndexCache.release

  // Keyed by SparkContext, NOT SparkSession: `newSession()` clones
  // (e.g. [[StreamOps]]'s replay sessions) share the context and must
  // REUSE the parent's persisted relation, not rebuild a twin under a
  // fresh session key. Round 6 keyed by session, so every stream-gate
  // replay clone re-ran the build closure and published an entry that
  // no sweep could ever evict (its session never stops and its mtime
  // never changes) — exactly the interleaving surface flagged against
  // `text_cdc_dedup`. A cached DataFrame is bound to the session that
  // built it, but executing it from a sibling session of the same
  // context is sound: the plan is already analyzed and the blocks
  // live in context-wide storage (CdcDeterminismSpec pins this).
  private val m = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String, Long), DataFrame]

  def getOrBuild(s: SparkSession, d: String, mtime: Option[Long])
      (build: => DataFrame): DataFrame = {
    val sc = s.sparkContext
    m.keys.foreach { k =>
      val superseded =
        mtime.exists(mt => (k._1 eq sc) && k._2 == d && k._3 != mt)
      if (superseded || k._1.isStopped)
        m.remove(k).foreach(release)
    }
    val key = mtime match {
      case Some(mt) => (sc, d, mt)
      case None =>
        // stat failed: reuse the live entry for (sc, d) if one exists;
        // only when nothing is cached do we build under a 0 key (the
        // next successful stat sweeps it as superseded)
        m.keys.find(k => (k._1 eq sc) && k._2 == d).getOrElse((sc, d, 0L))
    }
    m.get(key) match {
      case Some(df) => df
      case None =>
        // build OUTSIDE the map, publish with putIfAbsent: TrieMap's
        // getOrElseUpdate can run `build` in two racing threads, and
        // the loser's persisted relation would leak executor storage
        val built = build
        m.putIfAbsent(key, built) match {
          case Some(winner) =>
            IndexCache.releaseLoser(built)
            winner
          case None => built
        }
    }
  }

  /** Drop every cached relation (releases executor storage).
    * Exception-safe: a dead entry can't block the clear. */
  def invalidate(): Unit = {
    m.values.foreach(release)
    m.clear()
  }

  /** Test hook: live cache keys. */
  private[graft] def keys
      : Set[(org.apache.spark.SparkContext, String, Long)] = m.keySet.toSet
}
