package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing.charHash
import graft.operators.DedupOps

/** The deletion-side maintenance contract (`dedup_index_compact`,
  * `ann_index_compact`, `mm_store_gc`): a takedown batch must leave
  * each persisted index as if the tombstoned rows had never been
  * ingested — as a LOGICAL delete over the existing cached blocks
  * (zero new persisted relations, no re-read of any document or
  * embedding), with the content-addressed chunk store additionally
  * accounting for shared ownership (only last-owner digests are
  * physically reclaimable).
  */
class CompactionSpec extends SparkSpec {

  private def tomb(idCol: String) =
    charHash(col(idCol).cast("string")) % 10 === DedupOps.TombTag

  test("index compaction is a logical delete: zero new persisted " +
      "relations, no hash exchange below the output sort") {
    operators.IndexCache.invalidateAll()
    // warm both indexes through ordinary consumers
    assert(SparkEntry.queries("dedup_lsh_pairs")(spark, Sf).count() >= 0)
    assert(SparkEntry.queries("ann_lsh_buckets")(spark, Sf).count() >= 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val dc = SparkEntry.queries("dedup_index_compact")(spark, Sf)
    val ac = SparkEntry.queries("ann_index_compact")(spark, Sf)
    assert(dc.count() > 0 && ac.count() > 0)

    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"compaction must not materialize anything, saw new: $added")

    // the only exchange either plan may contain is the final
    // range-partitioned output sort — a hash exchange would mean the
    // filter recomputed or reshuffled the index
    Seq(dc, ac).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        p.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    }
  }

  test("compacted index equals a from-scratch rebuild over " +
      "corpus ∖ tombstones") {
    val compacted = SparkEntry.queries("dedup_index_compact")(spark, Sf)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"),
        r.getAs[Long]("bucket")))
    val rebuild = DedupOps.bucketRows(
      graft.sources.Tables.documents(spark, Sf)
        .filter(!tomb("doc_id"))
        .select(col("doc_id"), col("text")))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"),
        r.getAs[Long]("bucket")))
    assert(compacted.sorted.toSeq === rebuild.sorted.toSeq,
      "filter-compaction must be indistinguishable from a full rebuild")
    // and no tombstoned doc survives
    val tombIds = graft.sources.Tables.documents(spark, Sf)
      .filter(tomb("doc_id")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(tombIds.nonEmpty && !compacted.exists(t => tombIds(t._1)))
  }

  test("snapshot diff classifies every tag class correctly") {
    val rows = SparkEntry.queries("doc_snapshot_diff")(spark, Sf).collect()
    val byStatus = rows.groupBy(_.getAs[String]("status"))
      .map { case (k, v) => k -> v.length }
    assert(Set("removed", "changed", "added", "unchanged")
      .subsetOf(byStatus.keySet), s"saw only: $byStatus")

    val tag = (t: Long) =>
      graft.sources.Tables.documents(spark, Sf)
        .filter(charHash(col("doc_id").cast("string")) % 10 === t)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (tombs, deltas, adds) =
      (tag(DedupOps.TombTag), tag(DedupOps.DeltaTag), tag(DedupOps.AddTag))
    rows.foreach { r =>
      val (id, st) = (r.getAs[Long]("doc_id"), r.getAs[String]("status"))
      if (tombs(id)) assert(st == "removed", s"$id: $st")
      if (deltas(id)) assert(st == "changed", s"$id: $st")
      if (id >= DedupOps.DeltaIdOffset) {
        assert(st == "added", s"$id: $st")
        assert(adds(id - DedupOps.DeltaIdOffset))
      }
    }
    // every changed doc records both fingerprints and a longer after
    // ("UPDATE: " prefix adds 8 bytes)
    rows.filter(_.getAs[String]("status") == "changed").foreach { r =>
      assert(r.getAs[Long]("new_len") == r.getAs[Long]("old_len") + 8)
      assert(r.getAs[String]("old_md5") != r.getAs[String]("new_md5"))
    }
  }

  test("snapshot drift totals agree with the per-doc diff") {
    val drift = SparkEntry.queries("doc_snapshot_drift")(spark, Sf)
      .collect()
    val diff = SparkEntry.queries("doc_snapshot_diff")(spark, Sf)
      .collect().groupBy(_.getAs[String]("status"))
      .map { case (k, v) => k -> v.length.toLong }
    def total(c: String) = drift.map(_.getAs[Long](c)).sum
    assert(total("n_removed") === diff.getOrElse("removed", 0L))
    assert(total("n_changed") === diff.getOrElse("changed", 0L))
    assert(total("n_added") === diff.getOrElse("added", 0L))
    assert(total("n_after") === total("n_before") -
      total("n_removed") + total("n_added"))
  }

  test("histogram quantile estimate brackets the exact percentile") {
    val est = SparkEntry.queries("ev_histogram_quantiles")(spark, Sf)
      .collect()
      .map(r => r.getAs[Long]("p") ->
        (r.getAs[Double]("lo"), r.getAs[Double]("hi")))
      .toMap
    val values = graft.sources.Tables.events(spark, Sf)
      .select("value").filter(col("value").isNotNull)
      .collect().map(_.getDouble(0)).sorted
    est.foreach { case (p, (lo, hi)) =>
      // exact percentile at the same integer rank definition:
      // smallest value whose rank satisfies rank*100 >= p*N
      val idx = values.indices.find(i => (i + 1) * 100L >= p * values.length).get
      val exact = values(idx)
      assert(exact >= lo && exact < hi,
        s"p$p exact=$exact outside histogram bin [$lo,$hi)")
    }
  }

  test("store GC reclaims exactly the digests whose every owner is " +
      "tombstoned") {
    val reclaimed = SparkEntry.queries("mm_store_gc")(spark, Sf)
      .collect()
      .map(r => r.getAs[String]("chunk_md5"))
      .toSet
    assert(reclaimed.nonEmpty, "the tombstone tag must free something")

    // brute-force truth from the raw store projection
    val store = graft.operators.MultimodalOps.chunkStore(spark, Sf)
      .withColumn("is_tomb", tomb("doc_id"))
      .select(col("chunk_md5"), col("is_tomb"))
      .collect()
      .map(r => (r.getAs[String]("chunk_md5"), r.getAs[Boolean]("is_tomb")))
    val byDigest = store.groupBy(_._1)
    val truth = byDigest.collect {
      case (md5, rows) if rows.forall(_._2) => md5
    }.toSet
    assert(reclaimed === truth,
      "reclaim list must be exactly the all-owners-tombstoned digests")
    // shared digests (any surviving owner) must NOT be reclaimed
    val shared = byDigest.collect {
      case (md5, rows) if rows.exists(!_._2) && rows.exists(_._2) => md5
    }
    assert(shared.forall(!reclaimed.contains(_)),
      "a digest with a surviving owner is not physically reclaimable")
  }
}
