package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

/** The exact-duplicate collapse contract of the vector pair tier
  * ([[SimilarityOps.canonVecs]]): a group of byte-identical embeddings
  * (the skew probe's 10%-identical shape) must emit NO pairwise work
  * among its members — `emb_near_dup` pairs canonical representatives
  * only — while `emb_components` still places every member of the
  * group in ONE component (membership flows through the canonical in
  * O(group), never O(group²)).
  */
class EmbCollapseSpec extends SparkSpec {

  private def vec(seed: Int): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.fill(SimilarityOps.Dims)(r.nextFloat() * 2f - 1f)
  }

  private def writeEmb(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = tmpDir("emb-collapse")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("identical-embedding group emits no member pairs; near-dups of " +
      "the canonical still pair; components links the whole group") {
    val shared = vec(7)
    // 30-member identical group at ids 100..129
    val dupGroup = (0L until 30L).map(i => (100L + i, shared.clone(), 1))
    // a genuine near-dup of the shared vector (same direction, tiny
    // perturbation on one dim → same LSH bucket, cos ≈ 1)
    val near = shared.clone(); near(0) = near(0) + 1e-4f
    val fill = (0L until 20L).map(i => (500L + i, vec(1000 + i.toInt), 2))
    val dir = writeEmb(dupGroup ++ Seq((50L, near, 1)) ++ fill)

    operators.IndexCache.invalidateAll()
    val pairs = SparkEntry.queries("emb_near_dup")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    // no pair between two members of the identical group…
    assert(!pairs.exists { case (a, b) => a >= 100L && b >= 100L && b < 130L },
      s"identical group leaked member pairs: ${pairs.take(5).toSeq}")
    // …but the canonical (min id 100) still pairs with the near-dup
    assert(pairs.contains((50L, 100L)),
      s"canonical must still pair with genuine near-dups, saw: ${pairs.toSeq}")

    val comp = SparkEntry.queries("emb_components")(spark, dir)
      .collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("component_id"))
      .toMap
    // the whole identical group + the near-dup land in one component
    val clusterComps = ((100L until 130L) ++ Seq(50L)).map(comp).toSet
    assert(clusterComps.size === 1,
      s"dup group + near-dup must form one component, saw: $clusterComps")
    // fillers stay singletons
    assert((500L until 520L).forall(id => comp(id) == id))
    operators.IndexCache.invalidateAll()
  }

  test("canon window keys its exchange on the md5 fingerprint, " +
      "never a raw float array") {
    // Round-9 discipline fix: canonVecs partitions its window by a
    // 16-byte md5 of the vector, not the 128-byte array itself —
    // mirroring the text side's round-7 canon. The pin is general: no
    // hash exchange anywhere in the near-dup plan may key on an
    // array-typed expression.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.ArrayType
    operators.IndexCache.invalidateAll()
    val qe = SparkEntry.queries("emb_near_dup")(spark, Sf).queryExecution
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val keyed = plan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.collect { case h: HashPartitioning => h }
    assert(keyed.nonEmpty, "expected hash exchanges in the near-dup plan")
    for (h <- keyed; e <- h.expressions)
      assert(!e.dataType.isInstanceOf[ArrayType],
        s"hash exchange keyed on an array-typed expression: $h")
    operators.IndexCache.invalidateAll()
  }

  test("fingerprint fuzz: equal iff element-equal under the documented " +
      "normalizations (-0.0 folds, null element sentinel, NULL array " +
      "distinct from empty)") {
    import spark.implicits._
    val rnd = new scala.util.Random(0xF17)
    // vector pool stressing every normalization class: random floats,
    // signed zeros, subnormals, extremes, null elements, empty, NULL
    def randVec(): Seq[java.lang.Float] = {
      val n = rnd.nextInt(6)
      Seq.fill(n)(rnd.nextInt(8) match {
        case 0 => java.lang.Float.valueOf(-0.0f)
        case 1 => java.lang.Float.valueOf(0.0f)
        case 2 => null
        case 3 => java.lang.Float.valueOf(Float.MinPositiveValue)
        case 4 => java.lang.Float.valueOf(-Float.MaxValue)
        case _ => java.lang.Float.valueOf(rnd.nextFloat() * 100f - 50f)
      })
    }
    val pool: Seq[Option[Seq[java.lang.Float]]] =
      (1 to 120).map(_ => Some(randVec())) ++
        Seq(Some(Seq.empty[java.lang.Float]), None,
          Some(Seq(java.lang.Float.valueOf(-0.0f))),
          Some(Seq(java.lang.Float.valueOf(0.0f))),
          Some(Seq(null: java.lang.Float)))
    // reference normalization: NULL array sentinel; -0.0 -> +0.0;
    // null elements sentinel'd — two vectors must share a fingerprint
    // iff their normalized forms are equal
    def canon(v: Option[Seq[java.lang.Float]]): String = v match {
      case None => "<null>"
      case Some(xs) => xs.map {
        case null => "null"
        case f if f.floatValue() == 0.0f => "0.0"
        case f => f.floatValue().toString
      }.mkString("|")
    }
    // build via explicit Rows so null ELEMENTS and NULL arrays survive
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    val rdd = spark.sparkContext.parallelize(pool.zipWithIndex.map {
      case (v, i) => org.apache.spark.sql.Row(i.toLong, v.map(_.toSeq).orNull)
    })
    val df = spark.createDataFrame(rdd, schema)
    val fps = df.select(col("id"),
        SimilarityOps.vecFingerprint(col("embedding")).as("fp"))
      .as[(Long, String)].collect().toMap
    pool.indices.foreach { i =>
      pool.indices.foreach { j =>
        val want = canon(pool(i)) == canon(pool(j))
        val got = fps(i.toLong) == fps(j.toLong)
        assert(got == want,
          s"fingerprint ${if (got) "collision" else "split"} for " +
            s"${canon(pool(i))} vs ${canon(pool(j))}")
      }
    }
  }
}
