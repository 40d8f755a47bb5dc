package graft

import graft.operators.MultimodalOps

/** Pins for `mm_dedup_savings`: global conservation against the
  * chunk-level dedup rollup at sf0.001, and a planted twin pair whose
  * format saves exactly half its bytes.
  */
class MmSavingsSpec extends SparkSpec {

  test("byte accounting conserves against mm_cdc_dedup at sf0.001") {
    val savings = SparkEntry.queries("mm_dedup_savings")(spark, Sf)
      .collect()
    val chunks = SparkEntry.queries("mm_cdc_dedup")(spark, Sf).collect()
    val ingestedBytes = chunks
      .map(r => r.getAs[Long]("n_refs") * r.getAs[Long]("chunk_len")).sum
    val storedBytes = chunks.map(_.getAs[Long]("chunk_len")).sum
    assert(savings.map(_.getAs[Long]("total_bytes")).sum == ingestedBytes,
      "per-format ingested bytes must sum to the chunk-rollup mass")
    assert(savings.map(_.getAs[Long]("stored_bytes")).sum == storedBytes,
      "owner attribution partitions the distinct-chunk byte mass")
    assert(savings.map(_.getAs[Long]("n_unique_chunks")).sum ==
      chunks.length.toLong)
    savings.foreach { r =>
      assert(r.getAs[Long]("n_refs") >= r.getAs[Long]("n_unique_chunks"))
      val s = r.getAs[Double]("savings")
      assert(s >= 0.0 && s < 1.0)
    }
  }

  test("planted: an exact twin pair saves half its format's bytes") {
    import spark.implicits._
    // 99 % 3 == 0 -> rgb twins; 100 % 3 == 1 -> the yuv bystander.
    // Non-periodic payloads: repeated byte runs could mint identical
    // chunks WITHIN one doc and break the exact-half arithmetic.
    val twin = (('!' to '~').mkString + "abcde").take(99)
    val other = (('!' to '~').mkString.reverse + "ZYXWVU").take(100)
    val docs = Seq((1L, twin), (2L, twin), (3L, other))
    val dir = tmpDir("mmsave")
    docs.map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    operators.IndexCache.invalidateAll()
    val out = MultimodalOps.mmDedupSavings(spark, dir).collect()
      .map(r => r.getAs[String]("format") -> r).toMap
    operators.IndexCache.invalidateAll()
    assert(out("rgb").getAs[Long]("total_bytes") == 198L)
    assert(out("rgb").getAs[Long]("stored_bytes") == 99L,
      "twin chunks are byte-identical, so the store keeps one copy")
    assert(out("rgb").getAs[Double]("savings") == 0.5)
    assert(out("yuv").getAs[Double]("savings") == 0.0,
      "a unique payload saves nothing")
  }
}
