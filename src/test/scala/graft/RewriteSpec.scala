package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing.charHash
import graft.operators.DedupOps

/** The physical-rewrite contract of `dedup_index_rewrite`: reclaiming
  * a tombstone-heavy index must (a) read ONLY the index's existing
  * cached blocks — never the corpus parquet (reclaim ∝ |index|, not
  * |corpus|), (b) materialize exactly one new persisted relation (the
  * survivors' checkpoint) while leaving the corpus-index cache entry
  * untouched, and (c) be indistinguishable from both the logical
  * delete (`dedup_index_compact`) and a from-scratch rebuild over
  * corpus ∖ tombstones.
  */
class RewriteSpec extends SparkSpec {

  test("rewrite materializes only the survivors and never re-reads " +
      "the corpus parquet") {
    operators.IndexCache.invalidateAll()
    // warm the corpus index through an ordinary consumer
    assert(SparkEntry.queries("dedup_lsh_pairs")(spark, Sf).count() >= 0)
    val keysBefore = DedupOps.cacheKeys.filter(_._2 == Sf)
    assert(keysBefore.nonEmpty, "corpus index must be cached before rewrite")
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val out = SparkEntry.queries("dedup_index_rewrite")(spark, Sf)
    assert(out.count() > 0)

    // exactly ONE new persisted relation: the survivors' checkpoint
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size === 1,
      s"rewrite must materialize exactly the survivors, saw new: $added")
    assert(DedupOps.cacheKeys.filter(_._2 == Sf) === keysBefore,
      "the corpus index cache entry must be untouched by the rewrite")
    assert(DedupOps.rewriteCacheKeys.exists(_._2 == Sf),
      "the rewritten relation must be published through the cache")

    // lineage is CUT: the consumer plan scans the checkpointed RDD —
    // no file scan of any parquet survives in the rewritten index
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
      "rewritten index must have no recompute path to the corpus:\n" +
        plan.linesIterator.filter(_.contains("Scan")).mkString("\n"))
  }

  test("rewritten index equals the logical delete and a from-scratch " +
      "rebuild over corpus ∖ tombstones") {
    def triples(name: String) =
      SparkEntry.queries(name)(spark, Sf).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"),
          r.getAs[Long]("bucket"))).sorted.toSeq
    val rewritten = triples("dedup_index_rewrite")
    assert(rewritten === triples("dedup_index_compact"),
      "physical rewrite must equal the logical delete")
    val rebuild = DedupOps.bucketRows(
      graft.sources.Tables.documents(spark, Sf)
        .filter(charHash(col("doc_id").cast("string")) % 10
          =!= DedupOps.TombTag)
        .select(col("doc_id"), col("text")))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"),
        r.getAs[Long]("bucket"))).sorted.toSeq
    assert(rewritten === rebuild,
      "physical rewrite must equal a full rebuild over corpus ∖ tombstones")
  }

  test("ANN and chunk-store rewrites share the contract: one new " +
      "persisted relation each, no file scan, equality with their " +
      "compact/GC-complement") {
    operators.IndexCache.invalidateAll()
    // warm both indexes through ordinary consumers
    assert(SparkEntry.queries("ann_lsh_buckets")(spark, Sf).count() >= 0)
    assert(SparkEntry.queries("mm_cdc_dedup")(spark, Sf).count() >= 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val ann = SparkEntry.queries("ann_index_rewrite")(spark, Sf)
    val store = SparkEntry.queries("mm_store_rewrite")(spark, Sf)
    assert(ann.count() > 0 && store.count() > 0)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size === 2,
      s"one survivors' checkpoint per rewrite, saw new: $added")
    Seq(ann, store).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("FileScan") && !plan.contains("Scan parquet"),
        "rewritten relation must have no recompute path to the corpus")
    }

    // ANN rewrite ≡ logical delete (projected to the compact's columns)
    val annT = ann.collect().map(r => (r.getAs[Long]("vec_id"),
      r.getAs[Long]("bucket"), r.getAs[Double]("norm"))).sorted.toSeq
    val compactT = SparkEntry.queries("ann_index_compact")(spark, Sf)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Long]("bucket"), r.getAs[Double]("norm"))).sorted.toSeq
    assert(annT === compactT)

    // store rewrite: no tombstoned owner survives, and every GC'd
    // digest is gone from the rewritten store
    val survivors = store.collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("chunk_md5")))
    val tombIds = graft.sources.Tables.documents(spark, Sf)
      .filter(charHash(col("doc_id").cast("string")) % 10
        === DedupOps.TombTag)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tombIds.nonEmpty && !survivors.exists(t => tombIds(t._1)))
    val gcd = SparkEntry.queries("mm_store_gc")(spark, Sf)
      .collect().map(_.getAs[String]("chunk_md5")).toSet
    assert(gcd.nonEmpty && !survivors.exists(t => gcd(t._2)),
      "every GC'd digest must be absent from the rewritten store")
  }

  test("a second rewrite call reuses the published relation — no new " +
      "materialization") {
    // (depends on the first test having populated the cache; re-warm
    // defensively so the test is order-independent)
    assert(SparkEntry.queries("dedup_index_rewrite")(spark, Sf).count() > 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(SparkEntry.queries("dedup_index_rewrite")(spark, Sf).count() > 0)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"repeat rewrite must reuse the cached relation, saw new: $added")
  }
}
