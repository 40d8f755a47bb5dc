package graft

/** The substring-tier mirror of IndexMergeSpec / AnnIndexMergeSpec:
  * `mm_cdc_store_merge` appends the delta batch's chunk rows to the
  * persisted CDC chunk store — only the O(delta) appended rows may be
  * materialized, and the checkpointed corpus store must be reused
  * untouched. (Merge ≡ rebuild bit-equality is the oracle gate's
  * job.) Also pins the CDC property that makes the merge cheap: a
  * prefix-edited re-crawl shares almost all of its digests with its
  * original, because the boundaries re-synchronize past the edit.
  */
class ChunkStoreMergeSpec extends SparkSpec {

  test("chunk-store merge materializes ONLY the appended delta rows — " +
      "the checkpointed corpus store is reused") {
    operators.IndexCache.invalidateAll()
    // warm the corpus store through an ordinary consumer
    assert(SparkEntry.queries("mm_cdc_dedup")(spark, Sf).count() >= 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(before.nonEmpty, "corpus chunk store must be checkpointed")

    val out = SparkEntry.queries("mm_cdc_store_merge")(spark, Sf).collect()
    assert(out.nonEmpty)

    // exactly ONE new persisted relation: the delta-rows checkpoint
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size === 1,
      s"merge must materialize only the appended rows, saw new: $added")

    // the re-crawled delta docs' digest sets overlap their originals
    // almost entirely (CDC re-sync past the "UPDATE: " prefix edit)
    val byDoc = out.groupBy(_.getAs[Long]("doc_id"))
    val deltaIds = byDoc.keySet.filter(_ >= graft.operators.DedupOps.DeltaIdOffset)
    assert(deltaIds.nonEmpty, "the derived delta batch must be non-empty")
    val overlaps = deltaIds.toSeq.map { id =>
      val orig = byDoc(id - graft.operators.DedupOps.DeltaIdOffset)
        .map(_.getAs[String]("chunk_md5")).toSet
      val delta = byDoc(id).map(_.getAs[String]("chunk_md5")).toSet
      (delta intersect orig).size.toDouble / delta.size
    }
    assert(overlaps.count(_ >= 0.5).toDouble / overlaps.size >= 0.8,
      "most re-crawled docs must share most digests with their original")
  }
}
