package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.types.ArrayType

import graft.operators.SimilarityOps

/** `emb_semdedup` — sorted-neighborhood SemDeDup over the trained
  * k-means cells: the lead-window candidate generation must compute
  * exactly the removal set of the equivalent bounded self-join, the
  * keep policy must preserve the far-from-centroid representative,
  * and the plan must stay free of array-keyed exchanges and
  * pair-materializing joins.
  */
class SemDedupSpec extends SparkSpec {

  private def keepMap(): Map[Long, Long] =
    SparkEntry.queries("emb_semdedup")(spark, Sf).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("keep")).toMap

  test("lead-window removal set equals the bounded self-join mirror") {
    operators.IndexCache.invalidateAll()
    val af = SimilarityOps.semAssigned(spark, Sf)
    val a = af.select(col("clabel"), col("pos"),
      col("embedding").as("ea"), col("norm").as("na"))
    val b = af.select(col("clabel").as("clabel_b"), col("pos").as("pos_b"),
      col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("norm").as("nb"))
    // the same (cell, order-window, exact-cosine) semantics expressed
    // as an explicit join — a DIFFERENT plan that must compute the
    // SAME removal set as the lead-window formulation
    val removedJoin = a.join(b,
        col("clabel") === col("clabel_b") &&
          col("pos_b") > col("pos") &&
          col("pos_b") <= col("pos") + SimilarityOps.SemWindow)
      .filter(SimilarityOps.cosPre(col("ea"), col("eb"),
        col("na"), col("nb")) >= SimilarityOps.TauSem)
      .select(col("vec_b")).distinct()
      .collect().map(_.getLong(0)).toSet
    val keep = keepMap()
    val removedLead = keep.collect { case (id, 0L) => id }.toSet
    assert(removedLead === removedJoin,
      "lead-window and self-join formulations must agree on removals")
    assert(removedLead.nonEmpty,
      "fixture must exercise removal (no dup neighborhood found)")
    assert(keep.size === removedLead.size +
      keep.count(_._2 == 1L), "keep is a 0/1 partition of the corpus")
  }

  test("the first member of every cell order always survives") {
    operators.IndexCache.invalidateAll()
    val keep = keepMap()
    val heads = SimilarityOps.semAssigned(spark, Sf)
      .filter(col("pos") === 1L).select(col("vec_id"))
      .collect().map(_.getLong(0))
    heads.foreach(id => assert(keep(id) === 1L,
      s"cell head $id (farthest from centroid) must be kept — it has " +
        "no predecessor to be a duplicate of"))
  }

  test("per-cell stats aggregate the keep relation exactly") {
    operators.IndexCache.invalidateAll()
    val keep = SparkEntry.queries("emb_semdedup")(spark, Sf).collect()
      .map(r => (r.getAs[Long]("clabel"), r.getAs[Long]("keep")))
    val expected = keep.groupBy(_._1).map { case (c, g) =>
      c -> ((g.length.toLong, g.count(_._2 == 0L).toLong))
    }
    val got = SparkEntry.queries("emb_semdedup_stats")(spark, Sf)
      .collect().map(r => r.getAs[Long]("clabel") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("n_removed")))).toMap
    assert(got === expected)
    got.values.foreach { case (m, rm) =>
      assert(rm <= m, "removals bounded by membership") }
  }

  test("a planted near-duplicate cluster is pruned to its " +
      "farthest-from-centroid representative") {
    import spark.implicits._
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(SimilarityOps.Dims)(r.nextFloat() * 2f - 1f)
    }
    // 5 near-identical members (pairwise cos ≈ 1, tiny distinct
    // perturbations so distances to the centroid all differ) + fillers
    val base = vec(42)
    val cluster = (0 until 5).map { i =>
      val v = base.clone()
      v(i) = v(i) + (i + 1) * 1e-4f
      (200L + i, v, 1)
    }
    val fill = (0 until 20).map(i => (500L + i, vec(900 + i), 2))
    val dir = tmpDir("semdedup-planted")
    (cluster ++ fill).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    operators.IndexCache.invalidateAll()
    val rows = SparkEntry.queries("emb_semdedup")(spark, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("keep"), r.getAs[Double]("dist")))).toMap
    val members = cluster.map(_._1)
    val kept = members.filter(id => rows(id)._1 == 1L)
    assert(kept.length === 1,
      s"planted cluster must collapse to ONE survivor, kept: $kept")
    // the survivor is the first of the (dist DESC, vec_id) cell order
    val expected = members.sortBy(id => (-rows(id)._2, id)).head
    assert(kept.head === expected,
      "the far-from-centroid member is the SemDeDup representative")
    operators.IndexCache.invalidateAll()
  }

  test("no array-keyed exchange, no pair-materializing join") {
    operators.IndexCache.invalidateAll()
    val qe = SparkEntry.queries("emb_semdedup")(spark, Sf).queryExecution
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val keyed = plan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning => h }
    assert(keyed.nonEmpty, "expected hash exchanges (the cell sort)")
    for (h <- keyed; e <- h.expressions)
      assert(!e.dataType.isInstanceOf[ArrayType],
        s"hash exchange keyed on an array-typed expression: $h")
    // candidates come from lead over ONE window — never a cell-wide
    // self-join: no equi-join may key on the cell id (that shape is
    // O(cell²), the exact blow-up sorted-neighborhood replaces). The
    // removal-set lookup joining back on vec_id is fine at any scale.
    val s = plan.toString
    assert(!s.contains("CartesianProduct"),
      "semdedup must not materialize a cartesian pair space")
    import org.apache.spark.sql.execution.joins.{
      SortMergeJoinExec, ShuffledHashJoinExec, BroadcastHashJoinExec}
    val joinKeys = plan.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
      case j: BroadcastHashJoinExec => j.leftKeys
    }.flatten
    joinKeys.foreach(k =>
      assert(!k.references.exists(_.name == "clabel"),
        s"equi-join keyed on the cell id — an O(cell²) pair join " +
          s"crept in: $k"))
    operators.IndexCache.invalidateAll()
  }
}
