package graft

import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** The deterministic half of LSH recall: documents with IDENTICAL
  * 3-shingle sets have identical minhash signatures, hence collide in
  * every band — the candidate generator MUST return them. (For
  * near-identical sets recall is probabilistic by design — the 4×4
  * banding S-curve — so only the s=1.0 guarantee is assertable.) */
class LshRecallSpec extends SparkSpec {
  import spark.implicits._

  test("identical-shingle-set pairs are always LSH candidates, with jaccard 1.0") {
    // sf0.001 has no exact dupes — synthesize them: 20 docs re-keyed
    // at +100000 so every (id, id+100000) is an identical pair
    val dir = tmpDir("lsh-recall")
    val docs = graft.sources.Tables.documents(spark, Sf)
    val dupes = docs.orderBy("doc_id").limit(20)
      .withColumn("doc_id", col("doc_id") + 100000L)
    docs.unionByName(dupes).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")

    // ground truth by brute force: group docs by their full shingle SET
    val sets = graft.sources.Tables.documents(spark, dir)
      .withColumn("toks", Hashing.tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_sort(array_distinct(Hashing.shingles(col("toks")))).as("sh"))
      .as[(Long, Seq[String])].collect()
    val truePairs = sets.groupBy(_._2).values.filter(_.length > 1).flatMap { g =>
      val ids = g.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (ids(i), ids(j))
    }.toSet
    assert(truePairs.size >= 20, s"expected the synthesized dupes: $truePairs")

    val candidates = SparkEntry.queries("dedup_lsh_pairs")(spark, dir)
      .as[(Long, Long)].collect().toSet
    val missed = truePairs -- candidates
    assert(missed.isEmpty, s"guaranteed pairs missed by LSH: $missed")

    val jac = SparkEntry.queries("dedup_jaccard")(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    truePairs.foreach { p =>
      assert(jac.get(p).contains(1.0),
        s"identical sets must verify at jaccard 1.0: $p -> ${jac.get(p)}")
    }
  }

  test("connected components: duplicate clusters share one canonical label " +
      "and splits are cluster-atomic") {
    // 10 docs × 3 copies (original, +100000, +200000): every copy
    // trio must collapse to one component labeled by the original id
    val dir = tmpDir("cc")
    val docs = graft.sources.Tables.documents(spark, Sf)
    val base = docs.orderBy("doc_id").limit(10)
    base.unionByName(base.withColumn("doc_id", col("doc_id") + 100000L))
      .unionByName(base.withColumn("doc_id", col("doc_id") + 200000L))
      .unionByName(docs.orderBy("doc_id").limit(50))
      .dropDuplicates("doc_id")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val comp = SparkEntry.queries("dedup_components")(spark, dir)
      .as[(Long, Long)].collect().toMap
    val baseIds = base.select("doc_id").as[Long].collect()
    baseIds.foreach { id =>
      assert(comp(id + 100000L) === comp(id) && comp(id + 200000L) === comp(id),
        s"copies of $id not in its component")
      assert(comp(id) <= id, "component label must be a min over the cluster")
    }

    // leakage-free split: every member of a component gets ITS split
    val split = SparkEntry.queries("dedup_split_assign")(spark, dir)
      .as[(Long, Long, String)].collect()
    val byComp = split.groupBy(_._2).values
    byComp.foreach { g =>
      assert(g.map(_._3).toSet.size === 1,
        s"component ${g.head._2} straddles splits: ${g.toSeq}")
    }
  }

  test("split assignment and canonical report reuse the cached labeling") {
    assert(SparkEntry.queries("dedup_components")(spark, Sf).count() > 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(SparkEntry.queries("dedup_split_assign")(spark, Sf).count() > 0)
    assert(SparkEntry.queries("dedup_savings")(spark, Sf).count() > 0)
    // compare IDs, not counts: unpersist is async, so entries from
    // earlier tests may vanish between the two samples — only NEW
    // persisted RDDs indicate a rebuild/re-persist by the consumers
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"consumers of the labeling must not rebuild or re-persist it: $added")
  }

  test("overwriting the dataset evicts the superseded index entry") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("idx-evict")
    val docs = graft.sources.Tables.documents(spark, Sf)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    assert(SparkEntry.queries("dedup_lsh_pairs")(spark, dir).count() >= 0)
    val k1 = graft.operators.DedupOps.cacheKeys.filter(_._2 == dir)
    assert(k1.size === 1)

    // in-place overwrite: same rows, strictly newer mtime
    val p = Paths.get(s"$dir/documents.parquet")
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(p).toMillis + 5000))
    assert(SparkEntry.queries("dedup_lsh_pairs")(spark, dir).count() >= 0)
    val k2 = graft.operators.DedupOps.cacheKeys.filter(_._2 == dir)
    assert(k2.size === 1, s"superseded entry not evicted: $k2")
    assert(k2 !== k1, "new mtime must produce a new cache entry")
  }

  test("index invalidation rebuilds to identical results") {
    val before = SparkEntry.queries("dedup_lsh_pairs")(spark, Sf)
      .as[(Long, Long)].collect().toSeq
    operators.IndexCache.invalidateAll()
    val after = SparkEntry.queries("dedup_lsh_pairs")(spark, Sf)
      .as[(Long, Long)].collect().toSeq
    assert(after === before)
    val ann = SparkEntry.queries("ann_lsh_probe")(spark, Sf).count()
    assert(ann > 0)
  }

  test("filtered search returns only label-matching candidates") {
    val emb = graft.sources.Tables.embeddings(spark, Sf)
      .select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    val rows = SparkEntry.queries("ann_filtered")(spark, Sf).collect()
    assert(rows.nonEmpty, "some query must have a same-label neighbor")
    rows.foreach { r =>
      val (q, c) = (r.getAs[Long]("query_id"), r.getAs[Long]("cand_id"))
      assert(emb(q) == emb(c),
        s"candidate $c (label ${emb(c)}) must match query $q " +
          s"(label ${emb(q)}) — the predicate is part of the join key")
    }
    // ranks are contiguous from 1 within each query
    rows.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      assert(g.map(_.getAs[Long]("rank")).sorted.toSeq ===
        (1L to g.length.toLong).toSeq)
    }
  }

  test("recall curve is internally consistent across cutoffs") {
    val rows = SparkEntry.queries("ann_recall_curve")(spark, Sf)
      .collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n_hits"),
        r.getAs[Long]("n_possible")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(1L, 3L, 5L))
    rows.foreach { case (k, hits, possible) =>
      assert(possible ===
        k * graft.operators.SimilarityOps.NQueries,
        s"k=$k: every query contributes k truth slots")
      assert(hits >= 0 && hits <= possible)
    }
    // absolute hits can only grow with the cutoff (each k adds slots)
    assert(rows.map(_._2).sliding(2).forall(p => p.head <= p.last))
    // consistency with the single-k gate at k=TopK
    val gateHits = SparkEntry.queries("ann_lsh_recall")(spark, Sf)
      .collect().map(_.getAs[Long]("n_hits")).sum
    assert(rows.last._2 === gateHits,
      "curve@5 must equal the existing recall gate's total hits")
  }
}
