package graft

import org.apache.spark.sql.functions._

import graft.operators.DedupOps

/** The occupancy-cap contract of the pair-emitting tier
  * ([[DedupOps.MaxBucketOcc]]): an over-cap (band, bucket) cell — a
  * degenerate template/mirror cluster — must emit NO candidate pairs
  * (pairwise verification there is super-quadratic and redundant: the
  * members are near-identical by construction), while the STAR-shaped
  * connected-components path must still link the cluster (it is the
  * operator that handles mega-clusters, in O(cluster) not
  * O(cluster²)), and ordinary under-cap clusters must keep pairing
  * exactly as before.
  */
class BucketCapSpec extends SparkSpec {

  /** Distinct filler docs so the corpus isn't degenerate. */
  private def junk(seed: Long): String = {
    val r = new scala.util.Random(seed)
    (1 to 40).map(_ => "w" + r.nextInt(100000)).mkString(" ")
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("bucket-cap")
    rows.map { case (id, t) => (id, t, "en", "synthetic", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("an over-cap template cluster emits no pairs; components still " +
      "links it; an under-cap cluster pairs as before") {
    val template = (0 until 60).map(i => s"tmpl${i % 19}").mkString(" ")
    val big = (0L until (DedupOps.MaxBucketOcc + 6).toLong)
      .map(i => (1000L + i, template)) // identical → one cell per band
    val smallText = (0 until 60).map(i => s"sml${i % 17}").mkString(" ")
    val small = Seq((1L, smallText), (2L, smallText), (3L, smallText))
    val fill = (0L until 20L).map(i => (500L + i, junk(i)))
    val dir = writeDocs(big ++ small ++ fill)

    operators.IndexCache.invalidateAll()
    val pairs = SparkEntry.queries("dedup_lsh_pairs")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    // no pair touches the over-cap cluster…
    assert(!pairs.exists { case (a, b) => a >= 1000L || b >= 1000L },
      s"over-cap cluster leaked pairs: ${pairs.filter(_._1 >= 1000L).take(3).toSeq}")
    // …but the under-cap triple still produces all three pairs
    assert(pairs.toSet.intersect(
      Set((1L, 2L), (1L, 3L), (2L, 3L))) === Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"under-cap cluster must keep pairing, saw: ${pairs.toSeq}")

    // components is the operator that DOES handle the mega-cluster:
    // every member of the over-cap cluster lands in one component
    val comp = SparkEntry.queries("dedup_components")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id"))
      .toMap
    val bigComps = big.map(_._1).map(comp).toSet
    assert(bigComps.size === 1,
      s"over-cap cluster must remain one component, saw: $bigComps")
    operators.IndexCache.invalidateAll()
  }
}
