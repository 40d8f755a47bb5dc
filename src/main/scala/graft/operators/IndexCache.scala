package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's one index cache: an entry per (SparkContext, dataset
  * dir, mtime of `$dir/<table>.parquet`), built once and shared by
  * every query that reads the index. Context-keyed so `newSession()`
  * clones reuse the parent's relation (see the note on the map
  * below).
  *
  * Ownership rule. Every entry is a cut: its plan reads only
  * checkpoint leaves ([[graft.Checkpointing.cut]]), which
  * [[getOrBuild]] checks. An entry may read another entry's leaves —
  * a merged index is the corpus index's cut unioned with its own delta
  * cut — so no entry owns a leaf outright: the leaf RDD ids of each
  * entry are recorded when it is published, and
  * [[graft.Checkpointing.release]] frees a leaf only when no live
  * entry of any cache reads it. Eviction, a racing build's loser and
  * [[invalidate]] all free through that one release.
  *
  * The mtime in the key makes an in-place overwrite of the source
  * parquet rebuild transparently; [[getOrBuild]] also EVICTS the
  * superseded entry the moment a new mtime is seen for the same
  * (context, dir), and entries whose context has been stopped on the
  * same sweep. A FAILED stat is a no-op, not an eviction: the caller
  * gets whatever live entry exists for (context, dir), so one
  * transient IOException never evicts and rebuilds a healthy index.
  */
private[graft] object IndexCache {
  private val all = scala.collection.concurrent.TrieMap.empty[IndexCache, Unit]

  /** Drop every entry of every cache (releases executor storage). */
  def invalidateAll(): Unit = all.keys.foreach(_.invalidate())

  /** Leaf RDD ids read by a live entry of any cache. Callers that
    * publish or free hold the `IndexCache` lock, so no entry appears
    * between this read and a free. */
  private[graft] def liveLeaves: Set[Int] =
    all.keys.flatMap(_.m.values.flatMap(_._2)).toSet
}

private[graft] final class IndexCache(table: String) {
  IndexCache.all.put(this, ())

  // Keyed by SparkContext, NOT SparkSession: `newSession()` clones
  // (e.g. [[StreamOps]]'s replay sessions) share the context and must
  // REUSE the parent's relation, not rebuild a twin under a fresh
  // session key. Round 6 keyed by session, so every stream-gate
  // replay clone re-ran the build closure and published an entry that
  // no sweep could ever evict (its session never stops and its mtime
  // never changes) — exactly the interleaving surface flagged against
  // `text_cdc_dedup`. A cached DataFrame is bound to the session that
  // built it, but executing it from a sibling session of the same
  // context is sound: the plan is already analyzed and the blocks
  // live in context-wide storage (CdcDeterminismSpec pins this).
  // Values: the entry and the ids of the checkpoint leaves it reads.
  private val m = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.SparkContext, String, Long), (DataFrame, Set[Int])]

  def getOrBuild(s: SparkSession, d: String)(build: => DataFrame): DataFrame = {
    val sc = s.sparkContext
    val mtime =
      try Some(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(s"$d/$table.parquet")).toMillis)
      catch { case _: java.io.IOException => None }
    m.keys.foreach { k =>
      val superseded =
        mtime.exists(mt => (k._1 eq sc) && k._2 == d && k._3 != mt)
      if (superseded || k._1.isStopped) evict(k)
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
      case Some((df, _)) => df
      case None =>
        // build OUTSIDE the map and the lock, publish with putIfAbsent:
        // TrieMap's getOrElseUpdate can run `build` in two racing
        // threads, and the loser's own leaves would leak executor storage
        val built = build
        val plan = built.queryExecution.analyzed
        require(plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]),
          s"an index entry must read only checkpoint leaves:\n$plan")
        val leaves = graft.Checkpointing.leaves(built).map(_.id).toSet
        val winner = IndexCache.synchronized {
          m.putIfAbsent(key, (built, leaves)).map(_._1)
        }
        winner.foreach(_ => graft.Checkpointing.release(built))
        winner.getOrElse(built)
    }
  }

  private def evict(k: (org.apache.spark.SparkContext, String, Long)): Unit =
    IndexCache.synchronized(m.remove(k)).foreach(e => graft.Checkpointing.release(e._1))

  /** Drop every cached relation (releases executor storage).
    * Exception-safe: a dead entry can't block the clear. */
  def invalidate(): Unit = m.keys.foreach(evict)

  /** Test hook: live cache keys. */
  private[graft] def keys
      : Set[(org.apache.spark.SparkContext, String, Long)] = m.keySet.toSet
}
