package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftColumn, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType, StructField,
  StructType}

import graft.functions.{ArraySqDist, FloatDot, Hashing, LshBucket}
import graft.sources.Tables

/** Approximate-nearest-neighbor search over `embeddings.embedding`
  * (ARRAY<FLOAT>, 64 dims) — SURVEY.md §2.8 [EXT].
  *
  * Three tiers:
  *  - [[knnBrute]]: exact brute-force cosine top-k — the correctness
  *    baseline. The query side is tiny and broadcast; the data side
  *    streams through one codegen'd projection, so this is
  *    O(|queries|·n) with zero shuffle of the big side (the top-k is
  *    a per-query window over |queries|·n rows, shuffled on query_id).
  *  - [[annLshBuckets]] / [[annLshProbe]]: random-hyperplane LSH — an
  *    8-bit signed-projection bucket turns candidate generation into
  *    an equi-join, the 100 TB path (probe cost ∝ bucket size, not n).
  *  - [[annIvf]]: IVF-style partition-pruned search using the label
  *    column as the coarse quantizer cell (a k-means assignment would
  *    drop in the same place; labels keep it oracle-deterministic).
  *
  * Scale/perf structure (the round-2 rework):
  *  - bucket + norm are computed ONCE per vector in a cut
  *    relation ([[bucketed]]) shared by every ANN query — round 1
  *    re-ran the interpreted 8-plane × 64-dim fold on both join sides;
  *  - the fold itself is now a codegen'd expression
  *    ([[graft.functions.LshBucket]] / [[graft.functions.FloatDot]]);
  *  - per-pair work is ONE dot product — norms are precomputed per
  *    side, and `dot/(qn*cn)` is the same expression tree as
  *    `dot/(sqrt(dot)·sqrt(dot))`, so results stay bit-identical.
  *
  * All float math is element-order-sequential folds of doubles so the
  * DuckDB oracle (same fold order) produces bit-identical results —
  * see [[graft.functions.Exact]].
  */
object SimilarityOps {
  type Q = (SparkSession, String) => DataFrame

  val Dims = 64
  /** Number of random hyperplanes (=> 2^Planes buckets). */
  val Planes = 8
  /** Queries = this many lowest vec_ids. */
  val NQueries = 8
  val TopK = 5

  private def emb(s: SparkSession, d: String) = Tables.embeddings(s, d)

  /** Sequential-fold dot product of two ARRAY<FLOAT> columns, in
    * double (element order fixed → bit-identical across engines).
    * Codegen'd — see [[graft.functions.FloatDot]]. */
  private def dot(a: Column, b: Column): Column =
    GraftColumn(FloatDot(GraftColumn.expr(a), GraftColumn.expr(b)))

  /** Signed-projection LSH bucket (Planes-bit integer), codegen'd —
    * see [[graft.functions.LshBucket]] (weights from the same
    * power-of-two-exact LCG as [[sqlBucket]]). */
  private def bucketCol(e: Column): Column =
    GraftColumn(LshBucket(GraftColumn.expr(e), Planes, Dims))

  /** One materialized (vec_id, embedding, label, bucket, norm) relation
    * per (context, dataset, embeddings.parquet mtime) — the ANN index,
    * cut once and shared by every query that probes it (self-joins scan
    * the leaf on both sides instead of recomputing the projection); an
    * in-place overwrite of embeddings.parquet changes the key, rebuilds,
    * and evicts the superseded relation ([[IndexCache.getOrBuild]]). */
  private val indexCache = new IndexCache("embeddings")

  private[graft] def cacheKeys = indexCache.keys

  private def bucketed(s: SparkSession, d: String): DataFrame =
    indexCache.getOrBuild(s, d) {
      emb(s, d)
        .select(col("vec_id"), col("embedding"), col("label"),
          bucketCol(col("embedding")).as("bucket"),
          sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
        .transform(graft.Checkpointing.cut)
    }

  /** Cosine from a precomputed-norm pair: same expression tree as
    * `dot/(sqrt(dot)·sqrt(dot))` — bit-identical, 3× less work. */
  private[graft] def cosPre(
      qe: Column, ce: Column, qn: Column, cn: Column): Column =
    dot(qe, ce) / (qn * cn)

  /** Stateless per-row probe projection (vec_id, qe, qn, bucket) —
    * pure expressions only, so it is STREAMING-SAFE: the same
    * contract [[bucketed]] materializes for the batch index, applied
    * to incoming vectors on the ingest path
    * ([[StreamOps]]'s `stream_ann_upsert`). */
  private[graft] def probeRows(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("embedding").as("qe"),
      sqrt(dot(col("embedding"), col("embedding"))).as("qn"),
      bucketCol(col("embedding")).as("bucket"))

  /** The static corpus side of the online upsert probe: the persisted
    * index minus the incoming tag — (cand_id, ce, cn, bucket). */
  private[graft] def upsertCorpus(
      s: SparkSession, d: String, isNew: Column => Column): DataFrame =
    bucketed(s, d).filter(!isNew(col("vec_id")))
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("bucket"))

  /** SQL mirror of [[dot]] over the first m lanes: same element
    * order, same double fold (m = [[Dims]] is the full dot). */
  private def sqlDotM(a: String, b: String, m: Int): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, $m + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))),
        (acc, v) -> acc + v)"""

  /** SQL mirror of [[dot]]: same element order, same fold. */
  private def sqlDot(a: String, b: String): String = sqlDotM(a, b, Dims)

  /** Prefix cosine mirror for [[embPrefixRecall]]. */
  private def sqlCosineM(a: String, b: String, m: Int): String =
    s"${sqlDotM(a, b, m)} / (sqrt(${sqlDotM(a, a, m)}) * sqrt(${sqlDotM(b, b, m)}))"

  private def sqlCosine(a: String, b: String): String =
    s"${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)}))"

  private def topK(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    pairs
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cos"))
      .orderBy("query_id", "rank")
  }

  /** Exact brute-force cosine top-k for the query vectors. */
  val knnBrute: Q = (s, d) => {
    val e = bucketed(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"))
    val c = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"))
    topK(
      c.crossJoin(broadcast(q))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
  }

  /** Hard-negative mining — the contrastive-training data op: for
    * each query, the most-similar candidates whose label DIFFERS
    * (high cosine + different class = the pairs that sharpen an
    * embedding model's decision boundary; random negatives are too
    * easy to teach anything). Same plan as [[knnBrute]] with the
    * label-inequality predicate fused into the broadcast join — at
    * 100 TB the query side is the (small) anchor batch and the
    * candidate stream is one codegen'd projection; mining cost equals
    * a brute top-k, and an LSH/IVF candidate tier drops in exactly
    * like the positive-pair searches. */
  val annHardNegatives: Q = (s, d) => {
    val e = bucketed(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("label").cast("long").as("qlabel"))
    val c = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("label").cast("long").as("clabel"))
    topK(
      c.crossJoin(broadcast(q))
        .filter(col("clabel") =!= col("qlabel"))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
  }

  /** MMR shortlist depth and selection size (Carbonell & Goldstein
    * 1998). Fixed forever. */
  val MmrShort = 20
  val MmrK = 5

  /** Maximal-marginal-relevance diversified selection
    * (`ann_mmr_diversify`): greedily re-rank each query's exact
    * top-[[MmrShort]] shortlist into [[MmrK]] picks maximizing
    * `0.5·rel − 0.5·max_sim_to_already_selected` — the retrieval-time
    * complement of semantic dedup (a near-dup cluster flooding the
    * top-k yields one representative, not k copies). The greedy loop
    * is inherently sequential in k, and its state is fixed by
    * constants: at most [[NQueries]] × [[MmrShort]] = 160 shortlist
    * rows. So the shortlist is collected, and the [[MmrK]] picks run
    * on the driver as [[graft.Checkpointing.driverRounds]] (the only
    * all-pairs sims ever computed are shortlist × selected, ≤ 20×5
    * per query, through FloatDot's own fold); the corpus-scale work
    * stays in the shortlist search, which is exactly [[knnBrute]] /
    * an IVF tier at 100 TB. Argmax per step is Spark's
    * max(struct(score, −cand_id)) — ties break to the smaller cand_id,
    * mirrored by the oracle's ORDER BY — and maxsim is Spark's
    * max(sim): both in `SQLOrderingUtil.compareDoubles` order (NaN
    * largest, −0.0 = 0.0), nulls lowest. Step 1 has no selected set:
    * maxsim = 0, score = 0.5·rel (documented convention, mirrored).
    * `vec_id` is the corpus key, so a query's shortlist names each
    * candidate once. */
  val annMmrDiversify: Q = (s, d) => {
    val e = bucketed(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"))
    val c = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"))
    val short = topK(
      c.crossJoin(broadcast(q))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      MmrShort)
      .join(c, "cand_id")
      .select(col("query_id"), col("cand_id"), col("cos").as("rel"),
        col("ce"), col("cn"))
      .collect().map(r => MmrCand(r.getLong(0), r.getLong(1), doubleAt(r, 2),
        r.getSeq[Any](3), doubleAt(r, 4)))
      .groupBy(_.query).values.toSeq
    val picks = graft.Checkpointing.driverRounds("mmr", Seq.empty[MmrPick],
      MmrK) { sel =>
      sel ++ short.flatMap { cands =>
        val mine = sel.filter(_.c.query == cands.head.query)
        cands.filterNot(c => mine.exists(_.c eq c)).map { c =>
          if (mine.isEmpty) MmrPick(c, 1L, Some(0.0), c.rel.map(0.5 * _))
          else {
            // Spark's max keeps the first of equal values
            val maxsim = mine.map(p => mmrCos(c, p.c))
              .reduce((m, x) => if (SqlDouble.gt(x, m)) x else m)
            MmrPick(c, mine.size + 1L, maxsim,
              for (r <- c.rel; ms <- maxsim) yield 0.5 * r - 0.5 * ms)
          }
        }.maxOption(MmrOrder)
      }
    }
    graft.Checkpointing.sortedFrame(s, MmrSchema, 2, picks.map(p =>
      Row(p.c.query, p.step, p.c.cand, boxed(p.c.rel), boxed(p.maxsim),
        boxed(p.score))))
  }

  /** A shortlist row of [[annMmrDiversify]] and a pick made from it. */
  private final case class MmrCand(query: Long, cand: Long,
      rel: Option[Double], e: Seq[Any], n: Option[Double])
  private final case class MmrPick(c: MmrCand, step: Long,
      maxsim: Option[Double], score: Option[Double])

  /** [[annMmrDiversify]]'s frame, with the relational form's
    * nullability. */
  private val MmrSchema = StructType(Seq(
    StructField("query_id", LongType, true),
    StructField("step", LongType, false),
    StructField("cand_id", LongType, true),
    StructField("rel", DoubleType, true),
    StructField("maxsim", DoubleType, true),
    StructField("score", DoubleType, true)))

  /** [[cosPre]] of two shortlist rows on the driver, null where
    * Spark's `/` gives null: a null norm (so a non-null norm has a
    * non-null embedding), a null dot, or a zero norm product. A zero
    * norm reaches the shortlist only without ANSI division: with it,
    * the shortlist search has already failed on that row's `rel`. */
  private def mmrCos(a: MmrCand, b: MmrCand): Option[Double] =
    for {
      x <- a.n; y <- b.n if x * y != 0.0
      dot <- Option(FloatDot.fold(new GenericArrayData(a.e),
        new GenericArrayData(b.e)))
    } yield dot / (x * y)

  /** Spark's ascending order of nullable doubles: null lowest, then
    * `SQLOrderingUtil.compareDoubles` (NaN largest, −0.0 = 0.0). */
  private val SqlDouble: Ordering[Option[Double]] =
    Ordering.Option(SQLOrderingUtil.compareDoubles(_, _))

  /** Spark's order of struct(score, −cand_id), whose max is a pick. */
  private val MmrOrder: Ordering[MmrPick] =
    Ordering.by((p: MmrPick) => (p.score, -p.c.cand))(
      Ordering.Tuple2(SqlDouble, Ordering.Long))

  private def doubleAt(r: Row, i: Int): Option[Double] =
    if (r.isNullAt(i)) None else Some(r.getDouble(i))

  private def boxed(d: Option[Double]): java.lang.Double =
    d.map(Double.box).orNull

  /** Bucket histogram: occupancy of each LSH bucket. */
  val annLshBuckets: Q = (s, d) =>
    bucketed(s, d)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
      .orderBy("bucket")

  /** LSH probe: query vectors matched only against same-bucket
    * candidates (the linear-scale path), cosine-ranked. */
  val annLshProbe: Q = (s, d) => {
    val wb = bucketed(s, d)
    val q = wb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("bucket"))
    val c = wb.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("bucket"))
    topK(
      c.join(broadcast(q), Seq("bucket"))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
  }

  /** IVF-style search: candidates restricted to the query's coarse
    * cell (label column as the quantizer assignment). */
  val annIvf: Q = (s, d) => {
    val e = bucketed(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("label"))
    val c = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("label"))
    topK(
      c.join(broadcast(q), Seq("label"))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      3)
  }

  /** Per-vector exact-duplicate canonicalization: canon_id = the min
    * vec_id among byte-identical embeddings, with the group size. The
    * vector-side mirror of the lexical design where the O(n) exact
    * tier owns identical content BEFORE any pairwise machinery runs:
    * a re-ingested/mirrored embedding batch (the skew probe's
    * 10%-identical shape) otherwise turns every bucket self-join
    * quadratic in the dup-group size. One window pass; honest corpora
    * have no identical vectors, so this is a no-op passthrough there
    * (all three testdata SFs verified duplicate-free). */
  /** 16-byte md5 fingerprint of a float-array embedding, injective
    * up to md5 collision (the repo-wide accepted canon risk): Spark's
    * float→string cast is shortest round-trip, so the comma-joined
    * serialization distinguishes any two element-different vectors,
    * with the three normalizations documented at [[canonVecs]] (null
    * elements sentinel'd, −0.0 folded to +0.0, NULL array distinct
    * from empty array). Shared by the batch canon window and the
    * streaming ingest collapse — 32 hex chars key the exchange/state,
    * never the 4·[[Dims]]-byte array itself. */
  private[graft] def vecFingerprint(e: Column): Column =
    when(e.isNull, lit("<null-embedding>"))
      .otherwise(md5(concat_ws(",",
        transform(e,
          v => coalesce((v + lit(0.0f)).cast("string"), lit("null"))))
        .cast("binary")))

  private[graft] def canonVecs(s: SparkSession, d: String): DataFrame = {
    // Partition the window by a 16-byte md5 fingerprint of the vector
    // rather than the raw 128-byte float array — the same canon
    // discipline the text side adopted in round 7 (document text never
    // keys an exchange). Spark's float->string cast is shortest
    // round-trip, so the comma-joined serialization is injective and
    // two vectors share a fingerprint iff they are element-equal, with
    // three deliberate normalizations matching the old raw-array
    // window's grouping semantics (up to md5 collision, the repo-wide
    // accepted canon risk):
    //  - null ELEMENTS get a "null" sentinel (concat_ws SKIPS nulls,
    //    which would otherwise let [x, null] collide with [x]; no
    //    float ever formats as "null");
    //  - -0.0 is normalized to 0.0 by adding +0.0f BEFORE formatting
    //    (IEEE: -0.0 + 0.0 = +0.0) — Spark's window partitioning
    //    normalizes signed zeros in keys, so the fingerprint must too;
    //  - a NULL embedding gets its own sentinel fingerprint, distinct
    //    from the empty array's md5("") (transform(NULL) is NULL and
    //    concat_ws would silently merge the two groups).
    val fp = vecFingerprint(col("embedding"))
    val w = Window.partitionBy(fp)
    emb(s, d)
      .select(col("vec_id"),
        min(col("vec_id")).over(w).as("canon_id"),
        count(lit(1)).over(w).as("grp_sz"))
  }

  /** Embedding-cosine near-duplicate pairs — the vector-space analogue
    * of MinHash dedup. Candidates come from the LSH bucket equi-join
    * (never the O(n²) cross product), then the exact cosine filters at
    * the threshold. At 100 TB this is the standard near-dup sweep:
    * per-bucket self-join cost ∝ Σ bucket², tunable via [[Planes]] —
    * and, since round 8, ∝ Σ DISTINCT-embedding bucket²: pairs are
    * emitted between [[canonVecs]] canonical representatives only
    * (exact duplicates contribute nothing pairwise; they inherit
    * cluster membership through their canonical in `emb_components`).
    * Skew-probe motivation: 10% byte-identical vectors made this
    * join's hot bucket quadratic; with the collapse the hot group
    * costs one canonical row. */
  val embNearDup: Q = (s, d) =>
    embNearDupPairs(s, d)
      .orderBy("vec_a", "vec_b")

  private[graft] def embNearDupPairs(s: SparkSession, d: String)
      : DataFrame = {
    val reps = canonVecs(s, d)
      .filter(col("vec_id") === col("canon_id"))
      .select(col("vec_id"))
    val wb = bucketed(s, d).join(reps, Seq("vec_id"), "left_semi")
    wb.as("x").join(wb.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosPre(col("x.embedding"), col("y.embedding"),
          col("x.norm"), col("y.norm")).as("cos"))
      .filter(col("cos") >= 0.35)
  }

  /** 1-NN label agreement (`emb_knn_label_agreement`) — the standard
    * label-noise audit: each vector's nearest LSH-bucket neighbor
    * votes with its own label, and per label we report how often the
    * vote agrees. A label whose agreement collapses is either noisy
    * (mislabeled rows) or not a real cluster in embedding space —
    * either way it fails as a stratification key or IVF prior, and
    * [[embClassSeparation]] tells which failure it is (centroids far
    * apart + low agreement = noise; centroids close = no cluster).
    * The neighbor search is bucket-local BY DESIGN (the LSH cell is
    * the candidate set, cost ∝ Σ bucket² like every near-dup sweep —
    * never all-pairs; vectors alone in their bucket are reported
    * unscored, not silently dropped). Determinism: the 1-NN argmax
    * breaks cosine ties by neighbor id; agreement is integer counts
    * with one final division. */
  val embKnnLabelAgreement: Q = (s, d) => {
    val wb = bucketed(s, d)
    val lab = emb(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val cand = wb.as("x").join(wb.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("nbr"),
        cosPre(col("x.embedding"), col("y.embedding"),
          col("x.norm"), col("y.norm")).as("cos"))
    val w1 = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr"))
    val nn = cand.withColumn("rn", row_number().over(w1))
      .filter(col("rn") === 1)
      .join(lab.select(col("vec_id").as("nbr"),
        col("label").as("pred")), "nbr")
      .select(col("vec_id"), col("pred"))
    lab.join(nn, Seq("vec_id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pred").isNotNull, 1L).otherwise(0L))
          .as("n_scored"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_agree"))
      .select(col("label"), col("n"), col("n_scored"), col("n_agree"),
        when(col("n_scored") > 0L,
          col("n_agree").cast("double") / col("n_scored").cast("double"))
          .otherwise(lit(0.0)).as("agreement"))
      .orderBy("label")
  }

  /** SEMANTIC dedup clusters: connected components over the VERIFIED
    * embedding near-dup graph ([[embNearDup]]'s bucket-candidates +
    * cosine-threshold edges) — the vector-space analogue of
    * `dedup_components`, and the unit a leakage-free split or a
    * keep-one-per-cluster policy operates on when similarity is
    * semantic rather than lexical. Reuses the O(1)-plan-depth
    * min-label propagation ([[DedupOps.propagateMinLabels]]) by
    * encoding each verified pair as a two-member bucket in the same
    * bipartite membership shape — so the scalable CC path is ONE
    * implementation with two edge generators. Isolated vectors are
    * their own singleton components via one anti-join. */
  /** One materialized semantic labeling per (session, dataset, mtime)
    * — shared by `emb_components` and `emb_split_assign`, mirroring
    * the lexical component cache in [[DedupOps]]. */
  private val embCompCache = new IndexCache("embeddings")

  private def embComponentsRel(s: SparkSession, d: String): DataFrame =
    embCompCache.getOrBuild(s, d) {
      val pairs = embNearDupPairs(s, d).select(col("vec_a"), col("vec_b"))
      // bipartite encoding: pair i = a bucket holding exactly its two
      // endpoints; the synthetic bucket id (a << 32 | b) is unique per
      // pair and never collides (vec ids are < 2^31). Near-dup pairs
      // link CANONICAL representatives only, so exact-duplicate
      // groups additionally contribute one bucket per group (band 1,
      // keyed by canon_id — disjoint from the band-0 pair buckets):
      // every member reaches its canonical in O(group), never O(group²)
      val dupGroups = canonVecs(s, d)
        .filter(col("grp_sz") > 1)
        .select(col("vec_id").as("doc_id"), lit(1L).as("band"),
          col("canon_id").as("bucket"))
      // one eager materialization: the membership lineage now carries
      // the canon window + rep semi-join + pair join, and the
      // propagation loop re-executes its input several times per
      // iteration — without the cut, every iteration re-runs the
      // whole pair pipeline (measured 29 s vs 3 s at skewed sf1)
      val membership = pairs
        .select(explode(array(col("vec_a"), col("vec_b"))).as("doc_id"),
          lit(0L).as("band"),
          (col("vec_a") * lit(4294967296L) + col("vec_b")).as("bucket"))
        .unionByName(dupGroups)
        .transform(graft.Checkpointing.cut)
      val labels = DedupOps.propagateMinLabels(membership)
      val singletons = emb(s, d).select(col("vec_id").as("doc_id"))
        .join(labels, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("comp"))
      // checkpointed so the cached relation carries no dependency on
      // the loop's intermediate checkpoints (same discipline as the
      // lexical component cache)
      val all = labels.union(singletons).transform(graft.Checkpointing.cut)
      graft.Checkpointing.release(labels)
      graft.Checkpointing.release(membership)
      all
    }

  val embComponents: Q = (s, d) =>
    embComponentsRel(s, d)
      .select(col("doc_id").as("vec_id"), col("comp").as("component_id"))
      .orderBy("vec_id")

  /** Leakage-free split in EMBEDDING space: the whole semantic
    * near-dup cluster lands in one of train/val/test — the guard
    * against a paraphrase (lexically distant, semantically identical)
    * of a training doc leaking into eval, which token-level dedup
    * cannot catch. Same deterministic rule as the lexical
    * `dedup_split_assign` (char-hash of the component id, mod 10 →
    * 8/1/1), so the two splits are directly comparable. */
  val embSplitAssign: Q = (s, d) =>
    embComponentsRel(s, d)
      .withColumn("bucket",
        graft.functions.Hashing.charHash(col("comp").cast("string")) % 10)
      .select(col("doc_id").as("vec_id"), col("comp").as("component_id"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy("vec_id")

  /** Lower bound of the semantic-contamination gray zone
    * ([[embSplitContamination]]) — below the near-dup edge threshold
    * (0.35), above it pairs are provably same-split by construction. */
  val EmbContamMin = 0.30

  /** Semantic SPLIT-CONTAMINATION QA (`emb_split_contamination`) —
    * the embedding-side mirror of the lexical benchmark-decontamination
    * check: for every eval (val/test) vector, its same-bucket TRAIN
    * neighbors in the similarity GRAY ZONE [0.30, edge). The split is
    * component-based over the ≥0.35 near-dup graph, so any same-bucket
    * pair AT or ABOVE the edge threshold is same-split by
    * construction — what remains is the band just below it: eval
    * items semantically close (but not near-dup) to training data,
    * the generalization-gap shortlist a data team reviews before
    * trusting eval loss. Rows flag `edge_leak` if a ≥0.35 same-bucket
    * cross-split pair ever appears — provably impossible while the
    * split derivation is correct, so the spec asserts zero such rows
    * (a tripwire on the split logic itself).
    *
    * Scale shape: split relation joined once onto the persisted
    * index, one bucket equi-join (candidates bounded), combinable
    * rollup + a row_number for the deterministic best-offender pick.
    * Doubles: cosines from the shared [[cosPre]] tree; best_cos via
    * rank-1 selection, not a float aggregate. */
  val embSplitContamination: Q = (s, d) => {
    val sp = embSplitAssign(s, d).select(col("vec_id"), col("split"))
    val wb = bucketed(s, d)
      .select(col("vec_id"), col("embedding"), col("norm"), col("bucket"))
      .join(sp, Seq("vec_id"))
    val ev = wb.filter(col("split") =!= "train")
      .select(col("vec_id"), col("split"), col("embedding").as("qe"),
        col("norm").as("qn"), col("bucket"))
    val tr = wb.filter(col("split") === "train")
      .select(col("vec_id").as("train_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("bucket"))
    val cos = cosPre(col("qe"), col("ce"), col("qn"), col("cn"))
    val pairs = ev.join(tr, Seq("bucket"))
      .select(col("vec_id"), col("split"), col("train_id"), cos.as("cos"))
      .filter(col("cos") >= EmbContamMin)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("train_id"))
    pairs
      .withColumn("rn", row_number().over(w))
      .withColumn("n_train_hits",
        count(lit(1)).over(Window.partitionBy(col("vec_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("split"), col("n_train_hits"),
        col("cos").as("best_cos"), col("train_id").as("best_train_id"),
        when(col("cos") >= 0.35, "edge_leak").otherwise("gray")
          .as("risk"))
      .orderBy("vec_id")
  }

  /** Per-label centroid vectors — the coarse-quantizer training step
    * an IVF index needs. Element-wise mean via posexplode →
    * (label, dim) aggregation, emitted in LONG FORMAT — one scalar row
    * per (label, dim) — so the result schema has no ARRAY column (the
    * driver's oracle checker sorts result columns and cannot sort
    * array cells; see DriverContractSpec's scalar-schema guard).
    * Exactness: each float element is converted THROUGH ITS SHORTEST
    * STRING (identical on both engines by round-trip definition) into
    * a DECIMAL(30,20), which holds the ≤9 significant digits exactly —
    * decimal addition then re-associates exactly, so shuffle order
    * can't leak into the result, and the mean is one exact division
    * per dimension. (A direct float→decimal cast rounds differently
    * across engines.) Scale shape: explode is narrow and the aggregate
    * is map-side combinable on (label, dim). */
  val embCentroids: Q = (s, d) =>
    emb(s, d)
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(
        (sum(col("v").cast("string").cast("decimal(30,20)")).cast("double") /
          count(lit(1)).cast("double")).as("mean"))
      .select(col("label").cast("long").as("label"),
        col("dim").cast("long").as("dim"), col("mean"))
      .orderBy("label", "dim")

  /** Snapshot tag for [[embCentroidDrift]]: the ~10% of vectors with
    * this vec_id residue are "today's ingest". Fixed forever. */
  val DriftTag = 9L
  /** Per-dim mean shift above this flags a drifted dimension. */
  val DriftEps = 0.005

  /** Embedding-space drift monitor (`emb_centroid_drift`): per label,
    * compare the class centroid WITH vs WITHOUT today's ingest (the
    * [[DriftTag]] residue slice) and report max/min per-dim |shift| +
    * the count of dims shifted beyond [[DriftEps]] — the alarm that
    * catches an embedding-model version change or a poisoned ingest
    * batch before it contaminates ANN indexes and semantic dedup.
    * Exactness rides [[embCentroids]]'s string→decimal sum (shuffle-
    * order-proof); each mean is one exact division, the shift one
    * subtraction, and max/min/count are order-independent — no
    * double is ever summed. Two combinable (label, dim) aggregates
    * over a narrow posexplode; output is O(labels). */
  val embCentroidDrift: Q = (s, d) => {
    def means(df: DataFrame, name: String) = df
      .select(col("label"), posexplode(col("embedding"))
        .as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("v").cast("string").cast("decimal(30,20)"))
        .cast("double") / count(lit(1)).cast("double")).as(name))
    val oldM = means(emb(s, d)
      .filter(col("vec_id") % 10 =!= DriftTag), "old_mean")
    val newM = means(emb(s, d), "new_mean")
    newM.join(oldM, Seq("label", "dim"))
      .select(col("label"),
        abs(col("new_mean") - col("old_mean")).as("shift"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_dims"),
        max(col("shift")).as("max_shift"),
        min(col("shift")).as("min_shift"),
        sum((col("shift") > DriftEps).cast("long")).as("n_drifted"))
      .select(col("label").cast("long").as("label"), col("n_dims"),
        col("max_shift"), col("min_shift"), col("n_drifted"))
      .orderBy("label")
  }

  /** Cross-modal dedup verification: every embedding-space near-dup
    * pair ([[embNearDup]]) re-scored by TEXT similarity — distinct
    * word-token Jaccard of the two documents (vec ids key into
    * `documents`). This is the agreement check a semantic-dedup
    * pipeline runs before trusting embedding distance as a dedup
    * signal: pairs with high cosine but low token overlap flag
    * paraphrases (keep) vs true near-copies (drop). Cost ∝ LSH
    * candidate pairs only; the token intersection is an explode-join,
    * never per-pair set products. */
  val embDupTextVerify: Q = (s, d) => {
    val p = embNearDup(s, d).select(col("vec_a"), col("vec_b"), col("cos"))
    val tok = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.Hashing.tokens(col("text"))))
          .as("tok"))
    val sizes = tok.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = p
      .join(tok.as("ta"), col("vec_a") === col("ta.doc_id"))
      .join(tok.as("tb"),
        col("vec_b") === col("tb.doc_id") && col("ta.tok") === col("tb.tok"))
      .groupBy(col("vec_a"), col("vec_b"))
      .agg(count(lit(1)).as("n_inter"))
    p.join(inter, Seq("vec_a", "vec_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.as("za"), col("vec_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("vec_b") === col("zb.doc_id"))
      .select(col("vec_a"), col("vec_b"), col("cos"), col("n_inter"),
        (col("za.n") + col("zb.n") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double") /
          (col("za.n") + col("zb.n") - col("n_inter")).cast("double"))
          .as("token_jaccard"))
      .orderBy("vec_a", "vec_b")
  }

  /** Recall@k of the LSH probe against exact brute force — the
    * evaluation loop every ANN index needs before it replaces an
    * exact search in production: per query, how many of the true
    * top-k did the probe return. Both sides are the engine's own
    * top-k queries; the overlap is one small equi-join (k·|queries|
    * rows per side). Tune [[Planes]] against this number. */
  val annLshRecall: Q = (s, d) => {
    val b = knnBrute(s, d).select(col("query_id"), col("cand_id"))
    val p = annLshProbe(s, d)
      .select(col("query_id").as("p_query"), col("cand_id").as("p_cand"))
    b.join(p, col("query_id") === col("p_query") &&
        col("cand_id") === col("p_cand"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("p_cand")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK).cast("double"))
          .as("recall"))
      .orderBy("query_id")
  }

  /** FILTERED vector search (`ann_filtered`) — the metadata-predicate
    * search every modern vector store treats as first-class (tenant
    * isolation, language restriction, source allowlists): top-k among
    * candidates matching the query's label. The predicate is folded
    * INTO the equi-join key — (bucket, label) instead of (bucket) —
    * not applied as a post-filter: at 100 TB the difference is
    * scanning the allowed partition of each bucket vs scoring every
    * same-bucket vector and discarding most of them. With the index
    * laid out (or bucketed) by (bucket, label), the filter becomes
    * partition pruning; the cosine is computed only for candidates
    * that already satisfy the predicate. */
  val annFiltered: Q = (s, d) => {
    val wb = bucketed(s, d)
    val q = wb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("bucket"), col("label"))
    val c = wb.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("bucket"), col("label"))
    topK(
      c.join(broadcast(q), Seq("bucket", "label"))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
  }

  /** Recall gate for [[annFiltered]] — same contract as every other
    * search tier's gate: the bucket-restricted filtered search scored
    * against the brute-force same-label truth (label equality fused
    * into the broadcast cross join, exactly the [[annHardNegatives]]
    * plan with the predicate flipped). A filtered search that
    * silently loses same-label neighbors to bucket boundaries shows
    * up here, not in production. */
  val annFilteredRecall: Q = (s, d) => {
    val e = bucketed(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("label").cast("long").as("qlabel"))
    val c = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("label").cast("long").as("clabel"))
    val truth = topK(
      c.crossJoin(broadcast(q))
        .filter(col("clabel") === col("qlabel"))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
    val p = annFiltered(s, d)
      .select(col("query_id").as("p_query"), col("cand_id").as("p_cand"))
    truth.join(p, col("query_id") === col("p_query") &&
        col("cand_id") === col("p_cand"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("p_cand")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK).cast("double"))
          .as("recall"))
      .orderBy("query_id")
  }

  /** RECALL CURVE (`ann_recall_curve`) — the evaluation sweep over
    * cutoffs that a single recall@k gate can't show: for each
    * k ∈ {1, 3, 5}, how many of the exact top-k neighbors the LSH
    * probe returned within its own top k. One truth⋈probe join feeds
    * every cutoff (the k table is a 3-row broadcast against the
    * already-tiny pair relation), and all accounting is integer
    * (n_hits / n_possible), so the sweep is exactly reproducible —
    * the shape you run after every index-parameter change to see
    * WHERE on the cutoff curve the quality moved, not just whether
    * the single-k gate regressed. */
  val annRecallCurve: Q = (s, d) => {
    import s.implicits._
    val b = knnBrute(s, d).select(col("query_id"), col("cand_id"),
      col("rank").as("t_rank"))
    val p = annLshProbe(s, d).select(col("query_id").as("p_query"),
      col("cand_id").as("p_cand"), col("rank").as("p_rank"))
    val ks = Seq(1L, 3L, 5L).toDF("k")
    // explicit broadcast pin (round 14): both join sides are tiny
    // (NQueries·TopK rows) and AQE was flipping this left join
    // between broadcast and shuffled strategies run-to-run (shuffle
    // bytes 2.4 ↔ 4.3 KB on identical data), permanently blinding
    // the zero-flag drift tripwire on this name. The hint makes the
    // probe side the build side deterministically — the plan the
    // flip's cheaper half already chose.
    b.join(broadcast(p), col("query_id") === col("p_query") &&
        col("cand_id") === col("p_cand"), "left")
      .crossJoin(broadcast(ks))
      .filter(col("t_rank") <= col("k"))
      .groupBy("k")
      .agg(sum(when(col("p_rank").isNotNull && col("p_rank") <= col("k"),
          1L).otherwise(0L)).as("n_hits"),
        count(lit(1)).as("n_possible"))
      .orderBy("k")
  }

  /** Matryoshka prefix lengths audited by [[embPrefixRecall]].
    * Fixed forever. */
  val PrefixDims = Seq(8, 16, 32)

  /** MATRYOSHKA PREFIX-RECALL AUDIT (`emb_prefix_recall`) — prices
    * truncating the embedding column before committing to it: for
    * each prefix length m ∈ [[PrefixDims]], exact brute-force cosine
    * top-[[TopK]] using only the FIRST m dims, scored for recall
    * against the full-[[Dims]] truth ([[knnBrute]]'s contract). A
    * matryoshka-trained model front-loads information, so prefix
    * recall tells you which truncation is safe — an 8× storage /
    * bandwidth / probe-cost lever at 100 TB (a 64→8 truncation
    * shrinks every ANN probe's dot products the same way PQ shrinks
    * codes, but with zero decode step). Prefix cosines renormalize
    * with PREFIX norms (`slice` + the same codegen'd [[FloatDot]] /
    * one IEEE sqrt — bit-identical fold to the oracle's list_reduce
    * over range(1, m+1)); the truth join completes the m grid from
    * the 3-row broadcast so a zero-hit prefix reports 0.0, never a
    * dropped row. All counting integer; one division per m. */
  val embPrefixRecall: Q = (s, d) => {
    import s.implicits._
    val e = bucketed(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"))
    val c = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"))
    val truth = topK(
      c.crossJoin(broadcast(q))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
      .select(col("query_id").as("t_q"), col("cand_id").as("t_c"))
      .transform(graft.Checkpointing.cut)
    val runs = PrefixDims.map { m =>
      val pq = slice(col("qe"), 1, m)
      val pc = slice(col("ce"), 1, m)
      val cosP = dot(pq, pc) / (sqrt(dot(pq, pq)) * sqrt(dot(pc, pc)))
      topK(
        c.crossJoin(broadcast(q))
          .select(col("query_id"), col("cand_id"), cosP.as("cos")),
        TopK)
        .select(lit(m.toLong).as("m"), col("query_id").as("p_query"),
          col("cand_id").as("p_cand"))
    }.reduce(_ unionByName _)
    val hits = runs.join(truth,
        col("p_query") === col("t_q") && col("p_cand") === col("t_c"))
      .groupBy("m").agg(count(lit(1)).as("n_hits"))
    val nPossible = truth.agg(count(lit(1)).as("n_possible"))
    PrefixDims.map(_.toLong).toDF("m")
      .join(hits, Seq("m"), "left")
      .crossJoin(broadcast(nPossible))
      .select(col("m"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_possible"),
        // NULL-guarded: recall against an EMPTY truth set (no
        // candidate vectors at all) is undefined; oracle mirrors
        when(col("n_possible") === 0L, lit(null))
          .otherwise(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("n_possible").cast("double")).as("recall"))
      .orderBy("m")
  }

  /** Prefix length / shortlist depth for [[annPrefixRerank]].
    * Fixed forever. */
  val PrefixRerankM = 16
  val PrefixShort = 20

  /** MATRYOSHKA TWO-STAGE SEARCH (`ann_prefix_rerank`) — the search
    * tier [[embPrefixRecall]]'s audit prices: candidate generation
    * scores ONLY the first [[PrefixRerankM]] dims (¼ of the scan
    * bandwidth — at 100 TB the prefix pass reads a 16-dim column
    * slice, the storage win PQ gets from codes but with zero decode),
    * keeps a top-[[PrefixShort]] shortlist per query, then reranks
    * the shortlist with the FULL cosine — exact scores on ≤ 20
    * vectors per query. Same output contract as every search tier
    * (query_id, rank, cand_id, cos), same (cos desc, cand_id) tie
    * order at both stages, oracle = the two stages as nested CTEs.
    * Composes with IVF exactly as [[annProjRerank]]'s JL tier does —
    * the prefix replaces the projection with a slice the model was
    * trained to front-load. */
  val annPrefixRerank: Q = (s, d) => {
    val e = bucketed(s, d)
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"))
    val c = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"))
    val pq = slice(col("qe"), 1, PrefixRerankM)
    val pc = slice(col("ce"), 1, PrefixRerankM)
    val cosP = dot(pq, pc) / (sqrt(dot(pq, pq)) * sqrt(dot(pc, pc)))
    val shortl = topK(
      c.crossJoin(broadcast(q))
        .select(col("query_id"), col("cand_id"), cosP.as("cos")),
      PrefixShort)
      .select(col("query_id"), col("cand_id"))
    val full = shortl
      .join(q, Seq("query_id"))
      .join(c, Seq("cand_id"))
      .select(col("query_id"), col("cand_id"),
        cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"))
    topK(full, TopK)
  }

  /** Decimal-exact per-(clabel, dim) means of a (clabel, embedding)
    * relation, in long format — the k-means UPDATE step. Each float
    * element goes through its shortest string into DECIMAL(30,20)
    * (exact, order-independent summation; see [[embCentroids]]), so
    * iterating the step stays bit-identical to the oracle. */
  private def meansLong(assigned: DataFrame): DataFrame =
    assigned
      .select(col("clabel"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("clabel"), col("dim"))
      .agg(
        (sum(col("v").cast("string").cast("decimal(30,20)")).cast("double") /
          count(lit(1)).cast("double")).as("mean"))

  /** (clabel, dim, mean) long format → (clabel, c ARRAY<DOUBLE>). */
  private def toArrays(byd: DataFrame): DataFrame =
    byd.groupBy(col("clabel"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mean"))))
        .as("dm"))
      .select(col("clabel"),
        transform(col("dm"), x => x.getField("mean")).as("c"))

  /** Label-mean centroids are consumed by five queries (assign,
    * probe2, train init, PQ codebook, ADC LUT) — materialized once
    * per (session, dataset, mtime) so the decimal-exact aggregation
    * over the posexploded corpus runs once, not per consumer. */
  private val labelCentCache = new IndexCache("embeddings")

  /** Centroid relation shared by [[kmeansAssign]], [[annIvfProbe2]],
    * [[kmeansTrain]]'s initialization and the PQ codebook:
    * (clabel, c ARRAY<DOUBLE>) from the decimal-exact per-(label, dim)
    * means. Tiny (|labels| rows) — always broadcast at the use site. */
  private def centroids(s: SparkSession, d: String): DataFrame =
    labelCentCache.getOrBuild(s, d) {
      toArrays(meansLong(
        emb(s, d).select(col("label").cast("long").as("clabel"),
          col("embedding")))).transform(graft.Checkpointing.cut)
    }

  private def sqDist(a: Column, b: Column): Column =
    GraftColumn(ArraySqDist(GraftColumn.expr(a), GraftColumn.expr(b)))

  /** Multi-probe IVF search (nprobe = 2): each query is routed to its
    * TWO nearest coarse cells by centroid distance, then cosine-ranked
    * against only those cells' vectors. nprobe is THE recall/cost
    * knob of a real IVF index — cost ∝ nprobe/|cells| of the corpus,
    * recall approaches brute force as nprobe grows. Shape at 100 TB:
    * centroid routing is a broadcast of |cells| rows, the probe is an
    * equi-join on the cell id (never a scan of other cells), and the
    * top-k is a bounded-heap window. */
  val annIvfProbe2: Q = (s, d) => {
    val e = bucketed(s, d)
    val cents = centroids(s, d)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("clabel"))
    val qCells = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("cdist", sqDist(col("qe"), col("c")))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= 2)
      .select(col("query_id"), col("qe"), col("qn"), col("clabel"))
    val cands = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("label").cast("long").as("clabel"))
    topK(
      cands.join(broadcast(qCells), Seq("clabel"))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
  }

  /** One k-means ASSIGNMENT step — the other half of IVF training
    * ([[embCentroids]] is the update step): every vector moves to its
    * nearest centroid by squared euclidean distance. The 10 centroid
    * vectors are assembled from the same decimal-exact per-(label,dim)
    * means and BROADCAST, so the big side streams through one
    * codegen'd projection ([[graft.functions.ArraySqDist]], a
    * sequential fold — bit-identical to the oracle's list_reduce) and
    * the per-vector argmin is a WindowGroupLimit top-1. At 100 TB
    * this is the canonical Lloyd's-iteration shape: centroids always
    * broadcast, vectors never shuffle (the final sort is output
    * presentation only). */
  val kmeansAssign: Q = (s, d) => {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("clabel"))
    emb(s, d)
      .crossJoin(broadcast(centroids(s, d)))
      .select(col("vec_id"), col("label").cast("long").as("old_label"),
        col("clabel"), sqDist(col("embedding"), col("c")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("old_label"),
        col("clabel").as("assigned"), col("dist"))
      .orderBy("vec_id")
  }

  /** Fixed Lloyd's iteration count for [[kmeansTrain]] — fixed (not
    * convergence-tested) so the DuckDB oracle can unroll the exact
    * same number of rounds deterministically. */
  val KmeansIters = 2

  /** The k-means ASSIGN step: every vector to its nearest centroid
    * (squared euclidean, tie → lowest clabel). Centroids broadcast;
    * vectors never shuffle (WindowGroupLimit top-1 per vec_id). */
  private def assignToNearest(e: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("dist"), col("clabel"))
    e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("clabel"),
        sqDist(col("embedding"), col("c")).as("dist"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      // dist kept: [[semAssigned]] sorts cells by it; other callers
      // project it away (column pruning drops it from their plans)
      .select(col("vec_id"), col("embedding"), col("clabel"), col("dist"))
  }

  /** End-to-end Lloyd's TRAINING loop — [[kmeansAssign]] (assign) and
    * [[embCentroids]] (update) composed for [[KmeansIters]] rounds
    * from the per-label-mean initialization, so the IVF coarse
    * quantizer is trained by the engine rather than the label column
    * standing in for it. Output: the trained centroids in long
    * (clabel, dim, mean) format (scalar cells — driver checker rule).
    *
    * Scale shape per round: centroids (k rows) BROADCAST to the
    * assign projection, update is one map-side-combinable agg on
    * (clabel, dim) — the corpus is scanned twice per round and never
    * shuffled by vector. Intermediate centroids are eagerly
    * `localCheckpoint()`ed between rounds, the same O(1)-plan-depth
    * discipline as the connected-components loop: each round's plan
    * builds on a small materialized relation, not on N stacked
    * window+agg rounds. A cluster that loses all vectors drops out
    * (both engines agree: GROUP BY emits no empty groups). */
  /** One trained quantizer per (session, dataset, mtime), shared by
    * [[kmeansTrain]] and [[annIvfTrained]] — the Lloyd's loop runs
    * once per dataset, like the LSH/ANN index relations. The bench
    * builds it in the untimed warm-up (via kmeans_train) so each
    * consumer times its marginal cost. */
  private val centroidCache = new IndexCache("embeddings")

  /** The trained coarse quantizer: centroid arrays after
    * [[KmeansIters]] Lloyd's rounds, eagerly materialized
    * (localCheckpoint per round bounds plan depth; the final
    * checkpoint IS the materialization the cache holds). */
  private def trainedCentroids(s: SparkSession, d: String): DataFrame =
    centroidCache.getOrBuild(s, d) {
      lloyd(emb(s, d).select(col("vec_id"), col("embedding")), centroids(s, d))
    }

  /** [[KmeansIters]] Lloyd's rounds over the (vec_id, embedding)
    * vectors `e` from the (clabel, c) centroids `init`; each round's
    * centroids are cut by the fixpoint loop. */
  private def lloyd(e: DataFrame, init: DataFrame): DataFrame =
    graft.Checkpointing.fixpoint("kmeans", init, KmeansIters)(cents =>
      Some(toArrays(meansLong(assignToNearest(e, cents)
        .select(col("clabel"), col("embedding"))))))._1

  val kmeansTrain: Q = (s, d) =>
    trainedCentroids(s, d)
      .select(col("clabel"), posexplode(col("c")).as(Seq("dim", "mean")))
      .select(col("clabel"), col("dim").cast("long").as("dim"), col("mean"))
      .orderBy("clabel", "dim")

  /** Clustering stability audit (`kmeans_stability`) — the Rand
    * index between two Lloyd's runs from DIFFERENT deterministic
    * initializations (the label means vs hash-bucket means): the
    * eval a team runs before trusting trained IVF cells as a serving
    * layout. A clustering that survives an init perturbation (Rand
    * near 1) reflects real structure; one that reshuffles is
    * init-folklore and its cells will churn on every retrain —
    * exactly the `ann_index_rewrite` cost the audit prices.
    * Exactness: both runs are the engine's own decimal-exact Lloyd
    * step; the Rand identity
    * `C(n,2) − ΣC(a_i,2) − ΣC(b_j,2) + 2ΣC(n_ij,2)` is pure BIGINT
    * over the k×k contingency table (bounds: n ≤ 4·10⁹ before
    * C(n,2) needs DECIMAL), with ONE final division. Plan: two
    * broadcast-argmin assigns, one k² contingency groupBy — the
    * corpus is never shuffled by vector. */
  val kmeansStability: Q = (s, d) => {
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val initB = toArrays(meansLong(emb(s, d).select(
      (Hashing.charHash(col("vec_id").cast("string")) % 10L)
        .as("clabel"),
      col("embedding"))))
    val aA = assignToNearest(e, lloyd(e, centroids(s, d)))
      .select(col("vec_id"), col("clabel").as("a"))
    val aB = assignToNearest(e, lloyd(e, initB))
      .select(col("vec_id"), col("clabel").as("b"))
    val cont = aA.join(aB, "vec_id")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("nij"))
      .transform(graft.Checkpointing.cut)
    val tot = cont.agg(sum(col("nij")).as("n"),
      sum(expr("nij * (nij - 1) div 2")).as("s_ab"))
    val ra = cont.groupBy("a").agg(sum(col("nij")).as("na"))
      .agg(sum(expr("na * (na - 1) div 2")).as("s_a"),
        count(lit(1)).as("k_a"))
    val rb = cont.groupBy("b").agg(sum(col("nij")).as("nb"))
      .agg(sum(expr("nb * (nb - 1) div 2")).as("s_b"),
        count(lit(1)).as("k_b"))
    tot.crossJoin(broadcast(ra)).crossJoin(broadcast(rb))
      .select(col("n").as("n_vecs"), col("k_a").as("n_clusters_a"),
        col("k_b").as("n_clusters_b"),
        expr("n * (n - 1) div 2").as("pairs_total"),
        (expr("n * (n - 1) div 2") + lit(2L) * col("s_ab") -
          col("s_a") - col("s_b")).as("pairs_agree"),
        ((expr("n * (n - 1) div 2") + lit(2L) * col("s_ab") -
          col("s_a") - col("s_b")).cast("double") /
          expr("n * (n - 1) div 2").cast("double")).as("rand_index"))
  }

  /** IVF search over the ENGINE-TRAINED quantizer — the end of the
    * IVF story: [[kmeansTrain]] produces the cells, every vector is
    * assigned to its cell by the same broadcast-argmin step, and the
    * probe is an equi-join on the cell id (queries search only their
    * own cell, nprobe=1). Against [[annIvf]] (label column as cell)
    * this is the index a real pipeline would build when no labels
    * exist. Same 100 TB shape as [[annIvfProbe2]]: quantizer rows
    * broadcast, probe cost ∝ cell size. */
  val annIvfTrained: Q = (s, d) => {
    val af = assignToNearest(
        emb(s, d).select(col("vec_id"), col("embedding")),
        trainedCentroids(s, d))
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
    val q = af.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("clabel"))
    val c = af.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("clabel"))
    topK(
      c.join(broadcast(q), Seq("clabel"))
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
  }

  /** Recall@k of the trained-quantizer IVF probe against exact brute
    * force — the go/no-go number for replacing the exact search with
    * the trained index (mirrors [[annLshRecall]] for the LSH tier).
    * nprobe=1 against k-means cells; compare with `ann_lsh_recall` to
    * pick the candidate-generation tier per corpus. */
  val annIvfTrainedRecall: Q = (s, d) => {
    val b = knnBrute(s, d).select(col("query_id"), col("cand_id"))
    val p = annIvfTrained(s, d)
      .select(col("query_id").as("p_query"), col("cand_id").as("p_cand"))
    b.join(p, col("query_id") === col("p_query") &&
        col("cand_id") === col("p_cand"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("p_cand")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK).cast("double"))
          .as("recall"))
      .orderBy("query_id")
  }

  /** Sorted-neighborhood window width and verification threshold for
    * [[embSemdedup]] — fixed (changing either silently changes every
    * keep decision). */
  val SemWindow = 4
  val TauSem = 0.35

  /** SEMANTIC dedup over the trained k-means cells (SemDeDup, Abbas
    * et al. 2023, arXiv:2303.09540): prune embeddings that are
    * near-copies of another member of their own cluster, keeping the
    * member FARTHEST from the centroid of each duplicate
    * neighborhood (the paper's keep-low-centroid-similarity rule —
    * the far-from-centroid example carries the most diversity).
    *
    * The paper's inner step is all-pairs cosine within each cluster —
    * O(cell²), exactly the blow-up the LSH tier exists to avoid. The
    * scale-sane variant here bounds candidates with SORTED-
    * NEIGHBORHOOD blocking (the classic dedup blocking technique):
    * within each cell, order members by (distance-to-centroid DESC,
    * vec_id) and pair each member only with its next [[SemWindow]]
    * successors via `lead` over ONE window — candidates are
    * O(cell·W), the sort is the only shuffle, and near-copies land
    * adjacent in the order because distance-to-centroid is 1-Lipschitz
    * in the member (‖a−c‖ − ‖b−c‖ ≤ ‖a−b‖: byte-similar vectors
    * cannot sort far apart... though similar DISTANCE does not imply
    * similar VECTOR, which is why every candidate is verified with
    * the exact cosine before any removal). A member is removed iff
    * some verified partner PRECEDES it in the cell order; survivors
    * are the earliest member of each dup neighborhood — exactly the
    * farthest-from-centroid representative. At 100 TB: centroids
    * broadcast, the corpus shuffles ONCE (by cell, for the window
    * sort), no pair list is ever wider than W per row; k should grow
    * ~√n so cells stay bounded (here k = the 10 trained cells). */
  /** Trained-cell assignment carrying the within-cell sort key and
    * position: (vec_id, embedding, clabel, dist, norm, pos) — shared
    * by [[embSemdedup]] and its join-formulation mirror in
    * SemDedupSpec. */
  private[graft] def semAssigned(s: SparkSession, d: String): DataFrame = {
    val ordW = Window.partitionBy(col("clabel"))
      .orderBy(col("dist").desc, col("vec_id"))
    assignToNearest(emb(s, d).select(col("vec_id"), col("embedding")),
        trainedCentroids(s, d))
      .withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))
      .withColumn("pos", row_number().over(ordW).cast("long"))
  }

  private def semKeepRel(s: SparkSession, d: String): DataFrame = {
    val af = semAssigned(s, d)
    val ord = Window.partitionBy(col("clabel"))
      .orderBy(col("dist").desc, col("vec_id"))
    val nbrs = (1 to SemWindow).map(i =>
      struct(lead(col("vec_id"), i).over(ord).as("vec_b"),
        lead(col("embedding"), i).over(ord).as("eb"),
        lead(col("norm"), i).over(ord).as("nb")))
    val removed = af
      // two projections: a generator may not contain window expressions,
      // so the leads materialize first, then explode
      .select(col("embedding"), col("norm"), array(nbrs: _*).as("nbrs"))
      .select(col("embedding"), col("norm"), explode(col("nbrs")).as("p"))
      .filter(col("p.vec_b").isNotNull &&
        cosPre(col("embedding"), col("p.eb"), col("norm"), col("p.nb"))
          >= TauSem)
      .select(col("p.vec_b").as("vec_id")).distinct()
    af.join(removed.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("clabel"), col("dist"),
        (col("hit").isNull).cast("long").as("keep"))
  }

  val embSemdedup: Q = (s, d) => semKeepRel(s, d).orderBy("vec_id")

  /** Per-cell monitor of the semantic tier — the `*_index_stats`
    * pattern applied to [[embSemdedup]]: members, removals, live
    * fraction per trained cell. One combinable int groupBy over the
    * keep relation; a cell whose live_frac collapses is the signal a
    * template/mirror batch landed in embedding space (the lexical
    * monitor is `dedup_bucket_histogram`). */
  val embSemdedupStats: Q = (s, d) =>
    semKeepRel(s, d)
      .groupBy(col("clabel"))
      .agg(count(lit(1)).as("n_members"),
        sum(lit(1L) - col("keep")).as("n_removed"))
      .select(col("clabel"), col("n_members"), col("n_removed"),
        ((col("n_members") - col("n_removed")).cast("double")
          / col("n_members").cast("double")).as("live_frac"))
      .orderBy("clabel")

  /** Int8 scalar quantization of the embedding column — the standard
    * 4× memory cut an ANN index takes before it fits a 100 TB corpus
    * in serving RAM: per-DIMENSION min/max over the corpus, then
    * `q = floor((v - lo) * 255 / (hi - lo)) - 128` per element
    * (long-format output per the scalar-cells rule).
    *
    * Exactness: v is the float read as double (exact), lo/hi are
    * picked (not computed) by MIN/MAX, the affine map is three
    * correctly-rounded IEEE ops identical on both engines, and floor
    * is exact — no `round()` (whose tie behavior differs) anywhere.
    * Scale shape: the stats pass is one combinable agg producing
    * [[Dims]] rows, BROADCAST back onto the narrow explode — vectors
    * never shuffle. A constant dimension (hi == lo) carries no
    * information and quantizes to -128 (the bottom of the range). */
  /** The quantized long-format relation backing [[embQuantize]] and
    * [[embDimVariance]]: (vec_id, dim, q_int8) via the per-dim
    * min/max affine map. The per-dim stats relation is tiny ([[Dims]]
    * rows) and broadcast. */
  /** Pairs reported by [[embDimCorr]]. Fixed forever. */
  val DimCorrTopK = 20

  /** DIMENSION-CORRELATION AUDIT (`emb_dim_corr`) — the off-diagonal
    * complement of `emb_dim_variance`: the top-[[DimCorrTopK]] dim
    * PAIRS by absolute covariance of the int8 lanes, ranked on the
    * ALL-BIGINT numerator `n·Σqᵢqⱼ − Σqᵢ·Σqⱼ` (the lanes share one
    * min-max scale, so covariance ranks like correlation without a
    * sqrt ever appearing — no double in the query at all; worst case
    * \|n·P\| ≤ 2·10⁴·128²·2·10⁴ ≈ 7·10¹² « 2⁶³). Strongly-correlated
    * pairs mean redundant capacity — the evidence for PQ subspace
    * grouping (co-varying dims belong in one codebook) and for how
    * hard `emb_principal_dir`'s anisotropy bites. Plan: pair products
    * from ONE self-join co-partitioned on vec_id (O(vecs·dims²/2)
    * codegen rows into a combinable groupBy with O(dims²) groups);
    * per-dim sums and n are O(dims)/scalar broadcasts. */
  val embDimCorr: Q = (s, d) => {
    val q = quantizedLong(s, d).transform(graft.Checkpointing.cut)
    val n = q.agg((count(lit(1)) / lit(Dims)).cast("long").as("n"))
    val sums = q.groupBy("dim").agg(sum(col("q_int8")).as("s"))
    val a = q.select(col("vec_id"), col("dim").as("di"),
      col("q_int8").as("qi"))
    val b = q.select(col("vec_id"), col("dim").as("dj"),
      col("q_int8").as("qj"))
    val pij = a.join(b, Seq("vec_id"))
      .filter(col("di") < col("dj"))
      .groupBy("di", "dj")
      .agg(sum(col("qi") * col("qj")).as("p"))
    pij
      .join(broadcast(sums.select(col("dim").as("di"), col("s").as("si"))),
        Seq("di"))
      .join(broadcast(sums.select(col("dim").as("dj"), col("s").as("sj"))),
        Seq("dj"))
      .crossJoin(broadcast(n))
      .select(col("di"), col("dj"), col("n"), col("p"), col("si"),
        col("sj"), (col("n") * col("p") - col("si") * col("sj"))
          .as("cov_num"))
      .orderBy(abs(col("cov_num")).desc, col("di"), col("dj"))
      .limit(DimCorrTopK)
  }

  private def quantizedLong(s: SparkSession, d: String): DataFrame = {
    val longf = emb(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val stats = longf.groupBy("dim")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    longf.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        (when(col("hi") > col("lo"),
          least(floor((col("v") - col("lo")) * lit(255.0)
            / (col("hi") - col("lo"))), lit(255L)))
          .otherwise(lit(0L)) - lit(128L)).as("q_int8"))
  }

  val embQuantize: Q = (s, d) =>
    quantizedLong(s, d).orderBy("vec_id", "dim")

  /** Post-quantization per-dimension moment profile
    * (`emb_dim_variance`) — the dimension-pruning audit that runs
    * BEFORE committing to a PQ layout: a dimension whose int8 lane
    * has (near-)zero variance carries no information at serving
    * precision, so it is a candidate to drop from the index (and a
    * symptom of a collapsed embedding-model dimension). Exactness:
    * the lane values are the affine-quantized integers of
    * [[quantizedLong]], so n, Σq and Σq² are BIGINTs — the variance
    * NUMERATOR n·Σq² − (Σq)² is integer-exact and order-independent
    * (bounds: |q| ≤ 128, so at n = 10⁹ rows Σq² ≤ 1.7·10¹³ and the
    * numerator ≤ 1.7·10²² — overflow-safe in the gate range, and the
    * 100 TB form swaps BIGINT for DECIMAL(38,0) with no other
    * change); the variance itself is ONE division by n². Plan: one
    * combinable groupBy(dim) over the quantized long format — Dims
    * output rows, nothing corpus-sized downstream. */
  val embDimVariance: Q = (s, d) =>
    quantizedLong(s, d)
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("q_int8")).as("sum_q"),
        sum(col("q_int8") * col("q_int8")).as("sum_q2"))
      .select(col("dim"), col("n"), col("sum_q"), col("sum_q2"),
        (col("n") * col("sum_q2") - col("sum_q") * col("sum_q"))
          .as("var_num"),
        ((col("n") * col("sum_q2") - col("sum_q") * col("sum_q"))
          .cast("double") / (col("n") * col("n")).cast("double"))
          .as("variance"),
        (col("n") * col("sum_q2") === col("sum_q") * col("sum_q"))
          .as("dead_dim"))
      .orderBy("dim")

  /** Class-separation audit (`emb_class_separation`) — the
    * label-quality number a curation pipeline checks before trusting
    * `label` as an IVF coarse quantizer or a stratification key: per
    * label, the within-class scatter (mean squared radius around the
    * class centroid) vs the squared distance to the NEAREST other
    * class centroid, and the Fisher-style ratio of the two. A label
    * whose nearest-centroid distance is under 4x its scatter (inside
    * ~2 sigma) bleeds into its neighbor — IVF cells built on it
    * over-probe, and semdedup across it merges distinct content.
    * Exactness: runs on [[quantizedLong]]'s int8 lanes, so every
    * moment is integer — within = sum_d (n*Q2_d - S_d^2) and between
    * = sum_d (S_ad*n_b - S_bd*n_a)^2, both accumulated as
    * DECIMAL(19,0)-widened products into DECIMAL(38,0) (the
    * corpus_correlations discipline; exact to n_class <= 1.9e8 per
    * the 256*n^2 cross-term bound, beyond which the lanes rescale);
    * each reported number is one division of exact integers, and the
    * ratio divides two such identically-derived doubles. Plan: one
    * combinable (label, dim) rollup, then all cross-label work runs
    * on the O(labels x dims) aggregate — the label-pair "self-join"
    * is labels^2 x dims rows, catalog-sized, never corpus-sized.
    * Needs >= 2 labels (a single-label corpus has no neighbor and
    * yields no rows, by design). */
  val embClassSeparation: Q = (s, d) => {
    def d19(c: Column) = c.cast("decimal(19,0)")
    val labels = emb(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val perDim = quantizedLong(s, d).join(labels, "vec_id")
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q_int8")).as("sq"),
        sum(col("q_int8") * col("q_int8")).as("q2"),
        count(lit(1)).as("n"))
    val within = perDim.groupBy(col("label"), col("n"))
      .agg(sum(d19(col("n")) * d19(col("q2")) -
        d19(col("sq")) * d19(col("sq"))).as("w_num"))
    val a = perDim.select(col("label").as("la"), col("dim"),
      col("sq").as("sa"), col("n").as("na"))
    val b = perDim.select(col("label").as("lb"), col("dim"),
      col("sq").as("sb"), col("n").as("nb"))
    val dist = a.join(b, Seq("dim"))
      .filter(col("la") =!= col("lb"))
      .select(col("la"), col("lb"), col("na"), col("nb"),
        (d19(col("sa")) * d19(col("nb")) - d19(col("sb")) * d19(col("na")))
          .cast("decimal(19,0)").as("diff"))
      .groupBy(col("la"), col("lb"), col("na"), col("nb"))
      .agg(sum(col("diff") * col("diff")).as("d_num"))
      .select(col("la"), col("lb"),
        (col("d_num").cast("double") /
          (d19(col("na") * col("nb")) * d19(col("na") * col("nb")))
            .cast("double")).as("dist2"))
    val nearestW = Window.partitionBy(col("la"))
      .orderBy(col("dist2").asc, col("lb").asc)
    val nearest = dist.withColumn("rn", row_number().over(nearestW))
      .filter(col("rn") === 1)
      .select(col("la").as("label"), col("lb").as("nearest_label"),
        col("dist2").as("nearest_d2"))
    within.join(nearest, "label")
      .withColumn("intra_ms", col("w_num").cast("double") /
        (col("n") * col("n")).cast("double"))
      .select(col("label"), col("n"), col("intra_ms"),
        col("nearest_label"), col("nearest_d2"),
        when(col("intra_ms") > 0.0, col("nearest_d2") / col("intra_ms"))
          .otherwise(lit(0.0)).as("sep_ratio"),
        (col("nearest_d2") > col("intra_ms") * 4.0).as("separated"))
      .orderBy("label")
  }

  /** Principal-direction scale and power-iteration rounds for
    * [[embPrincipalDir]]. */
  val PcaVs = 1000000L
  val PcaIters = 6

  /** Dominant-direction (anisotropy) audit (`emb_principal_dir`) —
    * the top principal direction of the quantized embedding cloud's
    * uncentered second moment, by power iteration. Embedding models
    * routinely collapse toward one dominant direction ("all-but-the-
    * top", Mu & Viswanath, ICLR'18); when that happens cosine
    * similarity degenerates and every ANN tier's contrast drops —
    * this query is the alarm, and its loadings name the dims to
    * debias. The iteration runs on [[quantizedLong]]'s int8 lanes
    * CENTERED by the truncated-integer per-dim mean (q − Σq div n) —
    * exactly the mean removal Mu & Viswanath prescribe, in exact
    * integer form: without it the uncentered moment's top direction
    * is just the mean-offset vector (the planted fixture proves
    * this), and with min/max normalization equalizing marginal
    * scales the direction found is the dominant direction of the
    * CORRELATION structure (what survives into a quantized serving
    * index; the raw-scale story lives in `emb_dim_variance`).
    * All-INTEGER like the PageRank/HITS family: each round computes
    * w = Y v (per-vector dot), then Yᵀw (per-dim), then rescales by
    * the data-dependent positive scalar (max|raw| div [[PcaVs]]) + 1
    * — a truncating `div` BOTH engines implement identically even on
    * negative components (both truncate toward zero; pinned by
    * PrincipalDirSpec's sign fixture), so the fixed point is
    * bit-portable and mirrored as a DuckDB recursive CTE. Power
    * iteration converges to the principal eigenvector direction
    * under ANY fixed positive per-round rescaling; the deterministic
    * all-ones start breaks the sign ambiguity. Overflow bound:
    * per-dim |raw| ≤ n·256·(64·256·[[PcaVs]]) needs n < 2·10⁶
    * vectors at this scale — the 100 TB form drops [[PcaVs]] a digit
    * per 100× rows (documented, like the sibling quantized bounds).
    * Round shape: the per-dim means are collected once, and the
    * centered lanes are cut once as one row per vector (its dims and
    * their y). Each round is then one
    * [[graft.Checkpointing.vectorRound]] job: the d-vector v is
    * broadcast, each partition takes per vector dot = Σ y·v and per
    * dim Σ y·dot, and the driver sums the per-dim partials and
    * rescales. The sums use `Math.multiplyExact`/`addExact`, so an
    * overflow fails the query as ANSI arithmetic did in the relational
    * form. Vectors never shuffle after the cut, and the loadings come
    * back already sorted by dim. */
  val embPrincipalDir: Q = principalDir(PcaIters)

  /** [[embPrincipalDir]] with `rounds` power rounds; 0 stops after the
    * static setup. */
  private[graft] def principalDir(rounds: Int): Q = (s, d) => {
    val raw0 = quantizedLong(s, d)
    // dims are posexplode positions, so the dim set is 0 until D; a
    // null vec_id lane joins no dot, so it adds to no round
    val mu = raw0.groupBy(col("dim"))
      .agg(expr("sum(q_int8) div count(1)").as("mu"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      .map(_._2)
    val dims = mu.length
    val y = col("q_int8") -
      element_at(typedLit(mu), col("dim").cast("int") + 1)
    val lanes =
      graft.Checkpointing.roundRelation[(Array[Long], Array[Long])](
        raw0.filter(col("vec_id").isNotNull).groupBy(col("vec_id"))
          .agg(collect_list(struct(col("dim"), y.as("y"))).as("l"))
          .select(col("l.dim"), col("l.y")))
    val v = graft.Checkpointing.driverRounds("pca", Array.fill(dims)(PcaVs),
      rounds) { v =>
      val raw = graft.Checkpointing.vectorRound(lanes, v, dims)(powerFold)
      val m = raw.foldLeft(0L)((a, r) => math.max(a, Math.absExact(r)))
      raw.map(r => if (m > 0L) r / (m / PcaVs + 1) else 0L)
    }
    graft.Checkpointing.sortedFrame(s, PcaSchema, 1,
        v.indices.map(k => Row(k.toLong, v(k))))
      .withColumn("loading",
        col("v_scaled").cast("double") / lit(PcaVs.toDouble))
  }

  /** [[embPrincipalDir]]'s frame; `v_scaled` stays nullable, as the
    * relational form's `div` left it. */
  private val PcaSchema = StructType(Seq(StructField("dim", LongType, false),
    StructField("v_scaled", LongType, true)))

  /** One power round's per-partition fold over (dims, ys) vectors:
    * dot = Σ y·v(dim) per vector, then Σ y·dot per dim, exact. */
  private def powerFold(v: Array[Long],
      vecs: Iterator[(Array[Long], Array[Long])]): Iterator[(Int, Long)] = {
    val acc = new Array[Long](v.length)
    vecs.foreach { case (dims, ys) =>
      var dot = 0L
      for (i <- dims.indices)
        dot = Math.addExact(dot, Math.multiplyExact(ys(i), v(dims(i).toInt)))
      for (i <- dims.indices) {
        val k = dims(i).toInt
        acc(k) = Math.addExact(acc(k), Math.multiplyExact(ys(i), dot))
      }
    }
    acc.indices.iterator.map(k => (k, acc(k)))
  }

  /** Product-quantization layout: [[PqSubspaces]] subspaces of
    * [[PqSubDim]] dims each; the per-subspace codebook has one code
    * per label (k=10). */
  val PqSubspaces = 4
  val PqSubDim: Int = Dims / PqSubspaces

  /** Product quantization encode — the compression step after
    * [[embQuantize]]'s scalar int8 on the way to a 100 TB serving
    * index: each vector becomes [[PqSubspaces]] one-byte codes (here
    * 4×~3.3 bits), a 64× cut vs float32. The per-subspace codebook
    * falls out of the SAME decimal-exact full-dimension centroids
    * ([[centroids]]): the mean of a subvector IS the subvector of the
    * mean, so `slice(c, m·PqSubDim+1, PqSubDim)` is the trained
    * sub-codebook with no extra pass. Each vector × subspace picks
    * its nearest sub-centroid (sequential-fold sqdist, tie → lowest
    * code) and the four chosen distances sum — in fixed subspace
    * order, so the reconstruction error is engine-deterministic.
    *
    * Scale shape: the codebook is [[PqSubspaces]]·k tiny rows, held
    * on the driver; vectors stream through one projection that takes
    * each subvector's argmin over its subspace's codes
    * ([[graft.functions.ArraySqDist]]) and one posexplode (×4 rows);
    * the final pivot is a combinable agg on vec_id. Vectors never
    * shuffle whole. */
  /** The per-subspace codebook: (sub, code, cb ARRAY<DOUBLE>) sliced
    * from the full-dimension centroids. PqSubspaces·k rows —
    * collected by [[pqAssigned]], broadcast where it is joined. */
  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    centroids(s, d)
      .select(col("clabel").as("code"),
        posexplode(array((0 until PqSubspaces).map(m =>
          slice(col("c"), m * PqSubDim + 1, PqSubDim)): _*))
          .as(Seq("sub", "cb")))

  /** One materialized PQ code relation per (session, dataset, mtime)
    * — the compressed index itself, shared by [[embPqEncode]] and
    * both ADC consumers like the LSH/ANN/component relations (bench
    * builds it in the untimed warm-up; consumers time marginal
    * cost). */
  private val pqCache = new IndexCache("embeddings")

  /** Every vector's per-subspace nearest code: (vec_id, sub, code,
    * dist), the argmin step shared by [[embPqEncode]] and the ADC
    * search ([[annPqAdc]]).
    *
    * The codebook is collected and each subvector takes the least
    * (dist, code) over its subspace's codes in one projection — the
    * order the window over (dist, code) picks — so the cut plan holds
    * no join: a cut leaf keeps the planner's size estimate of the plan
    * it cut, and a join's estimate is the product of its sides (a
    * 362 GB guess for 224 kB of codes at sf0.1), which turned every
    * ADC join over the leaf into a shuffle join with runtime-filter
    * jobs. Spread round-robin over `defaultParallelism` partitions
    * before the cut, as in `dedup_hamming_histogram`, so the ADC join,
    * whose output is |queries| rows per code, runs in as many tasks. */
  private def pqAssigned(s: SparkSession, d: String): DataFrame =
    pqCache.getOrBuild(s, d) {
      val book = pqCodebook(s, d).collect()
      def nearest(m: Int): Column = {
        val codes = typedLit(book.filter(_.getInt(1) == m).toSeq.map(r =>
          (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getSeq[Double](2))))
        val sv = slice(col("embedding"), m * PqSubDim + 1, PqSubDim)
        array_min(transform(codes, c =>
          struct(sqDist(sv, c.getField("_2")).as("dist"),
            c.getField("_1").as("code"))))
      }
      emb(s, d)
        .select(col("vec_id"),
          posexplode(array((0 until PqSubspaces).map(nearest): _*))
            .as(Seq("sub", "best")))
        .select(col("vec_id"), col("sub"), col("best.code").as("code"),
          col("best.dist").as("dist"))
        .repartition(s.sparkContext.defaultParallelism)
        .transform(graft.Checkpointing.cut)
    }

  private def pick(m: Int, c: String): Column =
    max(when(col("sub") === m, col(c)))

  val embPqEncode: Q = (s, d) => {
    val assigned = pqAssigned(s, d)
    assigned.groupBy("vec_id")
      .agg(pick(0, "code").as("c0"), pick(1, "code").as("c1"),
        pick(2, "code").as("c2"), pick(3, "code").as("c3"),
        pick(0, "dist").as("d0"), pick(1, "dist").as("d1"),
        pick(2, "dist").as("d2"), pick(3, "dist").as("d3"))
      .select(col("vec_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        (col("d0") + col("d1") + col("d2") + col("d3")).as("sq_err"))
      .orderBy("vec_id")
  }

  /** Worst vectors surfaced per label by [[embPqDistortion]]. */
  val DistortionTopK = 5

  /** PQ distortion hotlist (`emb_pq_distortion`) — the reconstruction
    * audit run before trusting PQ codes for serving: per label, the
    * [[DistortionTopK]] vectors with the largest quantization error
    * ([[embPqEncode]]'s `sq_err`, fixed-subspace-order fold — already
    * engine-deterministic). A label over-represented here is poorly
    * served by the shared codebook (its residuals are large → its ADC
    * rankings degrade first) — the per-class complement of the global
    * recall curves, deliberately rank-based so no distortion
    * threshold constant has to be guessed. The per-label rank ≤ k
    * compiles to WindowGroupLimit (top-k per group, never a full
    * per-label sort). */
  val embPqDistortion: Q = (s, d) => {
    val lab = emb(s, d)
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val w = Window.partitionBy(col("label"))
      .orderBy(col("sq_err").desc, col("vec_id"))
    embPqEncode(s, d).select(col("vec_id"), col("sq_err"))
      .join(lab, "vec_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= DistortionTopK)
      .select(col("label"), col("rank"), col("vec_id"), col("sq_err"))
      .orderBy("label", "rank")
  }

  /** ANN search over the COMPRESSED index — asymmetric distance
    * computation (ADC), the reason PQ exists: each query precomputes a
    * distance LOOKUP TABLE (its subvector's distance to every
    * sub-centroid, |queries|·[[PqSubspaces]]·k tiny rows), and a
    * candidate's approximate distance is four table lookups summed —
    * the candidate's float vector is never touched. At 100 TB the
    * corpus side is the 4-byte code tuple, the LUT is broadcast, and
    * the probe is an equi-join on (sub, code) + a combinable pivot
    * agg — the serving-RAM search shape (Jégou et al., PAMI 2011;
    * public-domain algorithm). Distances sum in fixed subspace order
    * → engine-deterministic. Top-k per query by ascending ADC. */
  /** The per-query ADC lookup table: distance of each query subvector
    * to every sub-centroid — |queries|·[[PqSubspaces]]·k tiny rows,
    * always broadcast at the use site. Shared by [[adcScores]] and
    * [[annIvfPq]]. */
  private def adcLut(s: SparkSession, d: String): DataFrame =
    emb(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        posexplode(array((0 until PqSubspaces).map(m =>
          slice(col("embedding"), m * PqSubDim + 1, PqSubDim)): _*))
          .as(Seq("sub", "qv")))
      .join(pqCodebook(s, d), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        sqDist(col("qv"), col("cb")).as("dq"))

  /** (query_id, cand_id, adc): every candidate's four-lookup ADC
    * score — shared by [[annPqAdc]] and [[annPqRerank]]. */
  private def adcScores(s: SparkSession, d: String): DataFrame = {
    val cands = pqAssigned(s, d)
      .filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("sub"), col("code"))
    cands.join(broadcast(adcLut(s, d)), Seq("sub", "code"))
      .groupBy("query_id", "cand_id")
      .agg(pick(0, "dq").as("d0"), pick(1, "dq").as("d1"),
        pick(2, "dq").as("d2"), pick(3, "dq").as("d3"))
      .select(col("query_id"), col("cand_id"),
        (col("d0") + col("d1") + col("d2") + col("d3")).as("adc"))
  }

  val annPqAdc: Q = (s, d) => {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    adcScores(s, d)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("cand_id"), col("adc"))
      .orderBy("query_id", "rank")
  }

  /** ADC shortlist size for [[annPqRerank]] — the second knob (with
    * nprobe) of a compressed index: bigger shortlist, better recall,
    * more exact distance evaluations. */
  val PqShortlist = 50

  /** Two-stage compressed search — ADC shortlist then EXACT rerank:
    * the production serving shape for a PQ index (scan codes for a
    * cheap [[PqShortlist]]-deep shortlist, fetch only those
    * [[PqShortlist]] float vectors, exact top-[[TopK]]). Recall can
    * only improve on raw ADC — any true neighbor the ADC ranks into
    * the shortlist is re-ranked by its exact distance (pinned in
    * CurationOpsSpec). On this synthetic near-uniform corpus the raw
    * ADC gate ([[annPqRecall]]) sits at chance level — exactly the
    * measurement that tells a pipeline the codes alone can't rank
    * this corpus and the rerank stage is mandatory.
    *
    * Scale shape: stage 1 is [[adcScores]] (codes × broadcast LUT,
    * bounded-heap window); stage 2 touches [[PqShortlist]]·|queries|
    * vectors via an equi-join on cand_id — the expensive float reads
    * are capped by the shortlist, never ∝ corpus. */
  val annPqRerank: Q = (s, d) => {
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    val shortlist = adcScores(s, d)
      .withColumn("srk", row_number().over(wa))
      .filter(col("srk") <= PqShortlist)
      .select(col("query_id"), col("cand_id"))
    val q = emb(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), v => v.cast("double")).as("qe"))
    val c = emb(s, d).filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cand_id"))
    shortlist
      .join(c, "cand_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("cand_id"),
        sqDist(col("ce"), col("qe")).as("dist"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("cand_id"), col("dist"))
      .orderBy("query_id", "rank")
  }

  /** Cells each query probes in the composed IVF+PQ search. */
  val IvfPqNprobe = 2

  /** The COMPOSED index — IVF routing over the engine-trained coarse
    * quantizer, ADC-over-codes scoring inside the probed cells: the
    * IVFADC architecture (Jégou et al., PAMI 2011) every billion-scale
    * serving index uses, assembled here from the engine's own trained
    * quantizer ([[trainedCentroids]]) and PQ code relation
    * ([[pqAssigned]]). The coarse quantizer bounds WHICH codes are
    * read (nprobe cells, not the corpus); PQ bounds WHAT a read costs
    * (four LUT lookups, no float vector touched) — the two knobs a
    * 100 TB deployment tunes independently.
    *
    * Scale shape: centroids and the per-query LUT are tiny broadcast
    * relations; the corpus-side code tuples are equi-joined on their
    * cell id so only probed cells' codes flow into the four-lookup
    * sum; top-k is a bounded-heap window. Nothing in the plan scans
    * floats or shuffles ∝ corpus. */
  val annIvfPq: Q = (s, d) => {
    val cents = trainedCentroids(s, d)
    // nprobe routing: each query's IvfPqNprobe nearest trained cells
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("clabel"))
    val route = emb(s, d).filter(col("vec_id") < NQueries)
      .crossJoin(broadcast(cents))
      .select(col("vec_id").as("query_id"), col("clabel"),
        sqDist(col("embedding"), col("c")).as("dist"))
      .withColumn("crk", row_number().over(wq))
      .filter(col("crk") <= IvfPqNprobe)
      .select(col("query_id"), col("clabel"))
    // corpus-side code tuples tagged with their trained cell
    val cells = assignToNearest(
        emb(s, d).select(col("vec_id"), col("embedding")), cents)
      .filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("clabel"))
    val probed = pqAssigned(s, d)
      .filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("sub"), col("code"))
      .join(cells, "cand_id")
      .join(broadcast(route), Seq("clabel"))
      .select(col("query_id"), col("cand_id"), col("sub"), col("code"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("cand_id"))
    probed
      .join(broadcast(adcLut(s, d)), Seq("query_id", "sub", "code"))
      .groupBy("query_id", "cand_id")
      .agg(pick(0, "dq").as("d0"), pick(1, "dq").as("d1"),
        pick(2, "dq").as("d2"), pick(3, "dq").as("d3"))
      .select(col("query_id"), col("cand_id"),
        (col("d0") + col("d1") + col("d2") + col("d3")).as("adc"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("rank"), col("cand_id"), col("adc"))
      .orderBy("query_id", "rank")
  }

  /** Recall@k of the composed IVF+PQ search vs exact squared-L2 brute
    * force — the end-to-end gate for the full compressed serving
    * stack (routing loss AND compression loss together), alongside
    * the per-stage gates [[annIvfTrainedRecall]] / [[annPqRecall]]. */
  val annIvfPqRecall: Q = (s, d) => {
    val e = emb(s, d)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cand_id"))
    // candidates stream; the NQueries-row query side is broadcast
    // (same shape as knnBrute) so the planner can never fall back to
    // CartesianProductExec on misleading selectivity stats
    val exact = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qe"))))
      .select(col("query_id"), col("cand_id"),
        sqDist(col("ce"), transform(col("qe"), v => v.cast("double")))
          .as("dist"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("cand_id"))
    val approx = annIvfPq(s, d)
      .select(col("query_id").as("p_query"), col("cand_id").as("p_cand"))
    exact.join(approx, col("query_id") === col("p_query") &&
        col("cand_id") === col("p_cand"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("p_cand")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK).cast("double"))
          .as("recall"))
      .orderBy("query_id")
  }

  /** Recall@k of the ADC-over-codes search against EXACT squared-L2
    * brute force (same metric family as the PQ distortion — cosine
    * recall belongs to the LSH/IVF gates). The compression go/no-go:
    * how much of the true neighborhood survives 64×-compressed
    * distance evaluation. */
  val annPqRecall: Q = (s, d) => {
    val e = emb(s, d)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("dist"), col("cand_id"))
    // broadcast the query side like knnBrute — see annIvfPqRecall
    val exact = e.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").as("qe"))))
      .select(col("query_id"), col("cand_id"),
        sqDist(col("ce"), transform(col("qe"), v => v.cast("double")))
          .as("dist"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= TopK)
      .select(col("query_id"), col("cand_id"))
    val approx = annPqAdc(s, d)
      .select(col("query_id").as("p_query"), col("cand_id").as("p_cand"))
    exact.join(approx, col("query_id") === col("p_query") &&
        col("cand_id") === col("p_cand"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("p_cand")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK).cast("double"))
          .as("recall"))
      .orderBy("query_id")
  }

  /** Per-label stats; norms decimal-quantized before the group sum so
    * the aggregation order can't leak into the result. */
  val embLabelStats: Q = (s, d) =>
    bucketed(s, d)
      .select(col("label"), col("norm").cast("decimal(18,12)").as("norm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        sum(col("norm")).cast("double").as("total_norm"))
      .select(col("label").cast("long").as("label"), col("n"),
        col("total_norm"),
        (col("total_norm") / col("n").cast("double")).as("avg_norm"))
      .orderBy("label")

  /** L2 normalization to unit vectors (long format) — the hygiene
    * pass serving stacks run before cosine ANN so similarity becomes a
    * plain dot product. Reuses the persisted index's precomputed norm
    * ([[bucketed]]) — the vectors stream through one projection +
    * posexplode, nothing shuffles. A zero vector has no direction and
    * maps to all-zero (guarded division).
    *
    * Exactness: norm is the same sequential-fold `sqrt(dot(e,e))` tree
    * on both engines, each element is float→double (exact) and the
    * division is one correctly-rounded IEEE op — bit-identical. */
  val embNormalize: Q = (s, d) =>
    bucketed(s, d)
      .select(col("vec_id"), col("norm"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        when(col("norm") > 0.0, col("v").cast("double") / col("norm"))
          .otherwise(0.0).as("v_norm"))
      .orderBy("vec_id", "dim")

  /** Incremental index UPSERT gate: a batch of incoming vectors
    * (hash-tagged, `dedup_incremental`'s corpus/batch convention)
    * probed against the EXISTING bucket index BEFORE insertion — the
    * search-before-insert that keeps an online ANN index from
    * accumulating near-duplicates, and the embedding-side mirror of
    * the lexical `dedup_incremental` / `stream_neardup_candidates`
    * pair. Per incoming vector: its bucket, same-bucket corpus
    * occupancy, best cosine among corpus members (NULL on an empty
    * bucket), and the insert/near_dup verdict at [[embNearDup]]'s
    * 0.35 edge threshold. One bucket equi-join against the cached
    * index (batch side broadcast) + one combinable (count, max) agg —
    * an upsert batch never rebuilds or rescans the index. */
  val annIndexUpsert: Q = (s, d) => {
    def isNew(c: Column) =
      graft.functions.Hashing.charHash(c.cast("string")) % 10 === 7
    val wb = bucketed(s, d)
    val batch = wb.filter(isNew(col("vec_id")))
      .select(col("vec_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("bucket"))
    val corpus = wb.filter(!isNew(col("vec_id")))
      .select(col("embedding").as("ce"), col("norm").as("cn"),
        col("bucket"))
    val probed = corpus.join(broadcast(batch), Seq("bucket"))
      .select(col("vec_id"),
        cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_bucket_cands"), max(col("cos")).as("best_cos"))
    batch.select(col("vec_id"), col("bucket"))
      .join(probed, Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_bucket_cands"))
      .select(col("vec_id"), col("bucket"), col("n_bucket_cands"),
        col("best_cos"),
        when(col("best_cos") >= 0.35, "near_dup")
          .otherwise("insert").as("verdict"))
      .orderBy("vec_id")
  }

  /** RRF smoothing constant (the standard k=60 from the public
    * reciprocal-rank-fusion formulation). */
  val RrfK = 60

  /** HYBRID retrieval with reciprocal-rank fusion (`hybrid_rrf`) —
    * the RAG-prep shape: per query vector, candidates are recalled by
    * the ANN bucket probe (candidate-BOUNDED: one bucket equi-join
    * against the persisted index, never a corpus scan), then each
    * candidate is scored BOTH ways — vector cosine and lexical
    * token-set overlap with the query's document (vec_id ≡ doc_id in
    * this corpus) — and the two rankings are fused with
    * RRF = 1/(k+r_lex) + 1/(k+r_vec), k=[[RrfK]]. Top-10 per query.
    *
    * Scale shape: candidates come only from the index probe (the
    * tiny query side broadcasts); the lexical overlap is computed for
    * candidate PAIRS only — the token explode-join is semi-joined to
    * the candidate set first, so corpus text cost is ∝ candidates,
    * not ∝ corpus. Ranks are integers; the fused score is the same
    * two-division expression tree on both engines, and every ordering
    * carries a cand_id tiebreak — bit-exact through the oracle. */
  val hybridRrf: Q = (s, d) => {
    val wb = bucketed(s, d)
    val q = wb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"), col("bucket"))
    val c = wb.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"), col("bucket"))
    val pairs = c.join(broadcast(q), Seq("bucket"))
      .select(col("query_id"), col("cand_id"),
        cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos"))
    // lexical overlap for candidate pairs only: distinct token rows,
    // semi-joined down to the ids the probe surfaced
    val toks = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.Hashing.tokens(col("text"))))
          .as("tok"))
    val ids = pairs.select(col("query_id").as("doc_id"))
      .union(pairs.select(col("cand_id").as("doc_id"))).distinct()
    val candToks = toks.join(broadcast(ids), Seq("doc_id"), "left_semi")
    val lex = pairs.select("query_id", "cand_id")
      .join(candToks.select(col("doc_id").as("query_id"), col("tok")),
        Seq("query_id"))
      .join(candToks.select(col("doc_id").as("cand_id"), col("tok")),
        Seq("cand_id", "tok"))
      .groupBy("query_id", "cand_id")
      .agg(count(lit(1)).as("n_common"))
    val wLex = Window.partitionBy(col("query_id"))
      .orderBy(col("n_common").desc, col("cand_id"))
    val wVec = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand_id"))
    val ranked = pairs.join(lex, Seq("query_id", "cand_id"), "left")
      .na.fill(0L, Seq("n_common"))
      .withColumn("r_lex", row_number().over(wLex))
      .withColumn("r_vec", row_number().over(wVec))
      .withColumn("rrf",
        lit(1.0) / (lit(RrfK.toDouble) + col("r_lex").cast("double")) +
          lit(1.0) / (lit(RrfK.toDouble) + col("r_vec").cast("double")))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("cand_id"))
    ranked
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("cand_id"), col("n_common"), col("cos"), col("rrf"))
      .orderBy("query_id", "rank")
  }

  /** The merged-ANN-index cache ([[annIndexMerge]]) — the embedding
    * side of [[DedupOps]]'s mergedCache: per (context, dir, mtime),
    * the bucket index EXTENDED by the delta batch's rows. The entry
    * reads [[bucketed]]'s leaf as well as its own delta cut, so its
    * eviction frees only the delta leaf while [[indexCache]]'s entry
    * is live ([[graft.Checkpointing.release]]). */
  private val annMergedCache = new IndexCache("embeddings")

  /** ANN index MERGE — completes [[annIndexUpsert]]'s upsert story
    * exactly as `dedup_index_merge` completes `dedup_delta_probe`'s:
    * the vectors the upsert gate verdicts `insert`-worthy must
    * actually LAND in the index without the all-or-nothing mtime
    * rebuild. The delta batch (a re-embed of every
    * [[DedupOps.DeltaTag]]-tagged vector at offset ids —
    * `dedup_delta_probe`'s derivation convention on the embedding
    * table) is projected to (vec_id, embedding, label, bucket, norm)
    * rows and APPENDED: only the O(delta) rows are computed and
    * materialized (eager `localCheckpoint`); the corpus side of the
    * published union scans [[bucketed]]'s existing leaf
    * (AnnIndexMergeSpec pins one new persisted relation + untouched
    * corpus entry). The oracle rebuilds (bucket, norm) from scratch
    * over corpus ∪ delta — bit-equality, including the DOUBLE norms,
    * IS the merge ≡ rebuild proof. */
  val annIndexMerge: Q = (s, d) => {
    mergedAnnIndex(s, d)
      .select(col("vec_id"), col("bucket"), col("norm"))
      .orderBy("vec_id")
  }

  private[graft] def mergedAnnIndex(s: SparkSession, d: String): DataFrame =
    annMergedCache.getOrBuild(s, d) {
      val deltaRows = emb(s, d)
        .filter(graft.functions.Hashing.charHash(
          col("vec_id").cast("string")) % 10 === DedupOps.DeltaTag)
        .select((col("vec_id") + DedupOps.DeltaIdOffset).as("vec_id"),
          col("embedding"), col("label"),
          bucketCol(col("embedding")).as("bucket"),
          sqrt(dot(col("embedding"), col("embedding"))).as("norm"))
        .transform(graft.Checkpointing.cut) // eager: materialize ONLY the appended rows
      bucketed(s, d).unionByName(deltaRows)
    }

  /** ANN INDEX COMPACTION — the embedding-side mirror of
    * `dedup_index_compact`: a takedown batch (the shared
    * [[DedupOps.TombTag]] derivation) removed from the persisted ANN
    * index as a logical delete — a narrow filter over [[bucketed]]'s
    * cached blocks, NOT a re-materialization (a checkpoint would
    * double index storage to forget a few percent of vectors; the
    * physical rewrite is the existing mtime rebuild, run when
    * tombstones accumulate). No embedding is re-read, re-hashed or
    * re-normed to delete one — the filter touches only cached rows,
    * and CompactionSpec pins zero new persisted relations.
    *
    * The oracle recomputes (bucket, DOUBLE norm) from scratch over
    * embeddings ∖ tombstones — bit-equality, norms included, IS the
    * compact ≡ rebuild proof. */
  val annIndexCompact: Q = (s, d) =>
    bucketed(s, d)
      .filter(!DedupOps.tombstoned(col("vec_id")))
      .select(col("vec_id"), col("bucket"), col("norm"))
      .orderBy("vec_id")

  /** ANN INDEX TOMBSTONE STATS — the embedding-side rewrite trigger,
    * per label rather than per band because vector takedowns arrive
    * per tenant/class: rows, tombstoned rows, live fraction from one
    * combinable int groupBy over the persisted index. When a label's
    * `live_frac` dips below the policy threshold, run
    * `ann_index_rewrite`. */
  val annIndexStats: Q = (s, d) =>
    bucketed(s, d)
      .groupBy(col("label").cast("long").as("label"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(DedupOps.tombstoned(col("vec_id")), 1L).otherwise(0L))
          .as("n_tomb"))
      .select(col("label"), col("n_rows"), col("n_tomb"),
        ((col("n_rows") - col("n_tomb")).cast("double")
          / col("n_rows").cast("double")).as("live_frac"))
      .orderBy("label")

  /** Probe-cost audit (`ann_probe_cost`) — the capacity-planning
    * number behind every "how many probes can we afford" decision:
    * for each cell layout (LSH hyperplane buckets vs trained k-means
    * IVF cells), the EXPECTED candidates scanned by a single-cell
    * probe from a query drawn like the corpus, E[scan] = Σ n_c² / N.
    * Imbalance is priced exactly: Σ n_c² is an exact integer rollup
    * (a skewed layout inflates it quadratically — one hot cell makes
    * every probe into it scan the hot mass), the expectation one
    * division. This is the report that says a layout needs re-training
    * BEFORE p99 probe latency says it in production. O(cells)
    * aggregate over the persisted index relations. */
  val annProbeCost: Q = (s, d) => {
    def costOf(cells: DataFrame, name: String) = cells
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_vecs"),
        max(col("n")).as("max_cell"), sum(col("n") * col("n")).as("sum_sq"))
      .select(lit(name).as("index_name"), col("n_cells"), col("n_vecs"),
        col("max_cell"), col("sum_sq"),
        (col("sum_sq").cast("double") / col("n_vecs").cast("double"))
          .as("expected_scan"))
    costOf(bucketed(s, d).select(col("bucket").as("cell")), "lsh")
      .unionByName(costOf(
        kmeansAssign(s, d).select(col("assigned").as("cell")), "ivf"))
      .orderBy("index_name")
  }

  /** The physically-rewritten ANN index — embedding-side mirror of
    * `dedup_index_rewrite`, same atomic-supersede publication. */
  private val annRewriteCache = new IndexCache("embeddings")

  private[graft] def annRewriteCacheKeys = annRewriteCache.keys

  /** ANN INDEX REWRITE — the targeted physical reclaim between
    * `ann_index_compact`'s logical delete and the all-or-nothing
    * mtime rebuild: materialize the SURVIVING rows of the persisted
    * ANN index — vectors, buckets, and norms, since a serving index
    * stores all three — from the index's own cached blocks (one eager
    * `localCheckpoint`, lineage cut), published through
    * [[IndexCache]]'s atomic putIfAbsent. The embeddings parquet is
    * never re-read: reclaim ∝ |index|, not |corpus| — at 100 TB the
    * rewrite is a narrow executor-storage pass while the rebuild
    * would re-scan and re-hash every vector. Oracle identical to the
    * compact's (rebuild over corpus ∖ tombstones): one semantic
    * result, three costs. */
  val annIndexRewrite: Q = (s, d) =>
    rewrittenAnnIndex(s, d)
      .select(col("vec_id"), col("bucket"), col("norm"))
      .orderBy("vec_id")

  private[graft] def rewrittenAnnIndex(s: SparkSession, d: String)
      : DataFrame =
    annRewriteCache.getOrBuild(s, d) {
      bucketed(s, d)
        .filter(!DedupOps.tombstoned(col("vec_id")))
        .transform(graft.Checkpointing.cut) // eager: survivors materialized, lineage cut
    }

  /** Embedding QA: each vector's squared distance to its OWN label
    * centroid, flagged against that label's p95 distance — the
    * mislabeled/outlier shortlist fed to human review or re-embedding
    * before the corpus trains anything. Centroids come from the
    * cached label-centroid relation and BROADCAST onto one codegen'd
    * distance projection (vectors never shuffle for the join); the
    * p95 is the exact window-rank lerp (`q23_percentiles` machinery)
    * per label, and the |labels| thresholds broadcast back. */
  val embOutliers: Q = (s, d) => {
    val withDist = emb(s, d)
      .select(col("vec_id"), col("label").cast("long").as("clabel"),
        col("embedding"))
      .join(broadcast(centroids(s, d)), "clabel")
      .select(col("vec_id"), col("clabel").as("label"),
        sqDist(col("embedding"), col("c")).as("dist"))
    val wAll = Window.partitionBy(col("label"))
    val wSort = wAll.orderBy(col("dist"))
    val pos = (col("n") - 1).cast("double") * lit(0.95)
    val lo = max(when(col("rn") === floor(pos).cast("long") + 1, col("dist")))
    val hi = max(when(col("rn") === ceil(pos).cast("long") + 1, col("dist")))
    val frac = max(pos - floor(pos))
    val p95 = withDist
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wSort))
      .groupBy(col("label"))
      .agg((lo * (lit(1.0) - frac) + hi * frac).as("label_p95"))
    withDist.join(broadcast(p95), "label")
      .select(col("vec_id"), col("label"), col("dist"), col("label_p95"),
        when(col("dist") > col("label_p95"), "outlier")
          .otherwise("ok").as("verdict"))
      .orderBy("vec_id")
  }

  /** Per-dimension winsorization: clip each coordinate to its
    * dimension's exact [p05, p95] — the outlier-taming preprocessing
    * before quantization ([[embQuantize]]'s min/max affine map is
    * exactly what a single corrupt coordinate wrecks). Same long
    * (vec_id, dim) output contract as emb_quantize; the per-dim
    * thresholds come from the exact window-rank lerp and BROADCAST
    * back onto the explode (vectors never shuffle — the only shuffle
    * is the |dims|-keyed percentile window). */
  val embWinsorize: Q = (s, d) => {
    val vals = emb(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("v").cast("double").as("v"))
    val wAll = Window.partitionBy(col("dim"))
    val wSort = wAll.orderBy(col("v"))
    def pick(p: Double): Column = {
      val pos = (col("n") - 1).cast("double") * lit(p)
      val lo = max(when(col("rn") === floor(pos).cast("long") + 1, col("v")))
      val hi = max(when(col("rn") === ceil(pos).cast("long") + 1, col("v")))
      val frac = max(pos - floor(pos))
      lo * (lit(1.0) - frac) + hi * frac
    }
    val bounds = vals
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wSort))
      .groupBy(col("dim"))
      .agg(pick(0.05).as("lo"), pick(0.95).as("hi"))
    vals.join(broadcast(bounds), "dim")
      .select(col("vec_id"), col("dim"), col("v"),
        col("lo"), col("hi"),
        least(greatest(col("v"), col("lo")), col("hi")).as("v_clip"))
      .orderBy("vec_id", "dim")
  }

  /** Output dimensionality of [[embRandProj]]. */
  val ProjDims = 8

  /** ±1 sign-projection matrix (Achlioptas' database-friendly JL
    * variant), derived from the SAME fixed affine-permutation
    * constants as every other hash in the engine — the matrix is part
    * of the engine contract, not a per-run random draw, so projected
    * corpora are reproducible run-to-run (the lineage rule of
    * [[graft.operators.TextOps]]'s hash-gated sampling, applied to
    * vectors). sign(j, i) = +1 iff the TWICE-iterated affine residue
    * ((A_j·r + B_j) mod P with r = (A_j·i + B_j) mod P) lands below
    * P/2. One round is not enough: with i ≤ 64 the first affine value
    * rarely wraps P, so both its parity AND its magnitude inherit
    * structure from i (the parity variant produced bit-identical
    * rows); the second round's input spans [10⁶, P), wraps many
    * times, and mixes fully — measured: rank 8, every row ~50/50
    * balanced. Only this Scala generator encodes the rule — the
    * oracle consumes the materialized ±1 lists, so the two engines
    * cannot disagree. */
  val ProjSigns: IndexedSeq[IndexedSeq[Float]] =
    (0 until ProjDims).map { j =>
      (1 to Dims).map { i =>
        val r1 = (Hashing.A(j) * i + Hashing.B(j)) % Hashing.P
        val r2 = (Hashing.A(j) * r1 + Hashing.B(j)) % Hashing.P
        if (r2 * 2L < Hashing.P) 1.0f else -1.0f
      }
    }

  /** Johnson–Lindenstrauss sign projection of every vector to
    * [[ProjDims]] dimensions — the dimensionality-reduction pass a
    * 100 TB vector corpus runs BEFORE indexing/clustering (project
    * 1024-d model embeddings to a working dimension, then build the
    * IVF/LSH index over the short vectors; inner products are
    * preserved in expectation with variance 1/[[ProjDims]], the JL
    * guarantee). Exactness: each output coordinate is the same
    * sequential double fold as every dot product in this file
    * ([[graft.functions.FloatDot]] against a ±1 literal vector —
    * multiplying by ±1.0 is an exact sign flip, so the fold is a
    * signed sum of the float coordinates, bit-identical on both
    * engines). Scale shape: a pure per-row codegen'd projection — no
    * state, and the ONLY exchange is the gate output's presentation
    * sort (a production projection writes unsorted); the scan reads
    * only (vec_id, embedding). */
  val embRandProj: Q = (s, d) =>
    projRelation(s, d).orderBy("vec_id")

  /** Coarse-shortlist size for the projected-space search. */
  val ProjShortlist = 25

  /** The unsorted (vec_id, p0..p7) projected relation — shared by
    * [[embRandProj]] (which adds the gate's presentation sort) and
    * the projected-space search tier. */
  private def projRelation(s: SparkSession, d: String): DataFrame =
    emb(s, d).select(
      col("vec_id") +: (0 until ProjDims).map { j =>
        dot(col("embedding"), typedLit(ProjSigns(j))).as(s"p$j")
      }: _*)

  /** Fixed-order cosine over the [[ProjDims]] projected coordinates:
    * a left-associated `0.0 + q0·c0 + q1·c1 + …` chain on both
    * engines (Column `+` and SQL `+` associate identically), one
    * division, `sqrt` correctly rounded — bit-portable like every
    * other cosine in the file. */
  private def projCos(q: Int => Column, c: Int => Column): Column = {
    def chain(a: Int => Column, b: Int => Column) =
      (0 until ProjDims).foldLeft(lit(0.0): Column) { (acc, j) =>
        acc + a(j) * b(j)
      }
    chain(q, c) / (sqrt(chain(q, q)) * sqrt(chain(c, c)))
  }

  /** Projected-space coarse search + exact rerank — the USE of
    * [[embRandProj]], closing the JL loop the way every other tier
    * closes (index → probe → recall gate): candidates are shortlisted
    * by cosine in the 8-d projected space (8 multiplies per pair
    * instead of [[Dims]] — at a production 1024→64 ratio the coarse
    * pass reads 6% of the bytes), the top [[ProjShortlist]] per query
    * are reranked with the EXACT [[Dims]]-d cosine, and the final
    * top-[[TopK]] ships in the shared (query_id, rank, cand_id, cos)
    * search contract. Scale shape: the coarse stage is the brute plan
    * over 8-word vectors (broadcast queries, WindowGroupLimit bounded
    * heaps); only shortlist rows — ≤ queries·[[ProjShortlist]] —
    * ever touch a full-width vector again. */
  val annProjRerank: Q = (s, d) => {
    val pr = projRelation(s, d)
    val qp = pr.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id") +:
        (0 until ProjDims).map(j => col(s"p$j").as(s"q$j")): _*)
    val cp = pr.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id") +:
        (0 until ProjDims).map(j => col(s"p$j").as(s"c$j")): _*)
    val wShort = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("cand_id"))
    // zero-norm guard, BOTH sides: a row whose 8 projected coords are
    // all 0 (zero embedding, or orthogonal to every sign row) makes
    // pcos NaN, and NaN sorts LARGEST under DESC on both engines. A
    // degenerate CANDIDATE would squat a shortlist slot in every
    // query; a degenerate QUERY would rank every candidate NaN and
    // emit a cand_id-ordered (deterministic but meaningless)
    // shortlist — the round-10 advisory's asymmetry. The defined
    // fallback is now symmetric: a zero-projection query emits NO
    // shortlist rows (same contract as a zero-norm candidate —
    // excluded from the projected tier; the exact tiers still serve
    // it). Same left-associated square chain as projCos; both guards
    // mirrored in the oracle.
    def normPos(pfx: String) = (0 until ProjDims)
      .foldLeft(lit(0.0): Column)((acc, j) =>
        acc + col(s"$pfx$j") * col(s"$pfx$j")) > lit(0.0)
    val short = cp.filter(normPos("c"))
      .crossJoin(broadcast(qp.filter(normPos("q"))))
      .select(col("query_id"), col("cand_id"),
        projCos(j => col(s"q$j"), j => col(s"c$j")).as("pcos"))
      .withColumn("prank", row_number().over(wShort))
      .filter(col("prank") <= ProjShortlist)
      .select(col("query_id"), col("cand_id"))
    val wb = bucketed(s, d)
    val qe = wb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qn"))
    val ce = wb.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("cand_id"), col("embedding").as("ce"),
        col("norm").as("cn"))
    topK(
      short.join(ce, "cand_id").join(broadcast(qe), "query_id")
        .select(col("query_id"), col("cand_id"),
          cosPre(col("qe"), col("ce"), col("qn"), col("cn")).as("cos")),
      TopK)
  }

  /** MRR retrieval-evaluation report across four ANN tiers — see the
    * oracle-side Scaladoc at `sqlAnnMrr`: per-query reciprocal rank
    * of the brute-force true nearest neighbor in each tier's top-k
    * (0 when missed), emitted per query so no engine-internal double
    * accumulation order ever enters the result. Each tier's Q runs
    * unchanged, so the metric is measured against exactly the gated
    * tier semantics. */
  val annMrr: Q = (s, d) => {
    val truth = knnBrute(s, d).filter(col("rank") === 1L)
      .select(col("query_id"), col("cand_id").as("truth_cand"))
      .transform(graft.Checkpointing.cut)
    val tiers: Seq[(String, Q)] = Seq(
      "ivf" -> annIvf, "lsh" -> annLshProbe,
      "pq_rerank" -> annPqRerank, "proj_rerank" -> annProjRerank)
    tiers.map { case (name, q) =>
      val hit = min(when(col("cand_id") === col("truth_cand"),
        col("rank")))
      // driven FROM the truth side: a tier that returns NOTHING for a
      // query must still report that query at rr = 0, not drop the
      // row (an empty shortlist is the worst miss, not a non-event)
      truth
        .join(q(s, d).select(col("query_id"), col("rank"),
          col("cand_id")), Seq("query_id"), "left")
        .groupBy(col("query_id"), col("truth_cand"))
        .agg(hit.as("hit"))
        .select(lit(name).as("tier"), col("query_id"),
          col("truth_cand"),
          coalesce(col("hit"), lit(0L)).as("hit_rank"),
          when(col("hit").isNull, lit(0.0))
            .otherwise(lit(1.0) / col("hit").cast("double")).as("rr"))
    }.reduce(_ unionByName _)
      .orderBy("tier", "query_id")
  }

  /** Spearman-footrule top-k list distance across the same four ANN
    * tiers — the ORDER-sensitive eval metric recall and MRR both
    * miss: recall ignores rank agreement entirely, MRR watches only
    * the single true-NN. The induced footrule with location parameter
    * k+1 (Fagin, Kumar & Sivakumar, "Comparing top k lists", SIAM
    * J. Discrete Math 2003) sums |rank_brute − rank_tier| over the
    * UNION of both top-k lists, charging absent elements rank k+1 —
    * an integer in [0, k(k+1)] per query (0 = identical ranking,
    * k(k+1) = disjoint lists), so the gate stays hash-exact; the
    * normalized form is one division of that integer by the constant
    * k(k+1). Per-tier plan: one full-outer equi-join of two ≤k-row
    * per-query relations on (query_id, cand_id) and a combinable
    * groupBy — cost ∝ queries·k, nothing corpus-sized. A tier that
    * returns nothing for a query still reports it (footrule
    * Σ(k+1−r) = k(k+1)/2) because the brute side survives the outer
    * join — an empty shortlist is a distance, not a non-event. */
  val annFootrule: Q = (s, d) => {
    val miss = (TopK + 1).toLong
    val brute = knnBrute(s, d)
      .select(col("query_id"), col("cand_id"), col("rank").as("rank_b"))
      .transform(graft.Checkpointing.cut)
    val tiers: Seq[(String, Q)] = Seq(
      "ivf" -> annIvf, "lsh" -> annLshProbe,
      "pq_rerank" -> annPqRerank, "proj_rerank" -> annProjRerank)
    tiers.map { case (name, q) =>
      val t = q(s, d).select(col("query_id").as("t_query"),
        col("cand_id").as("t_cand"), col("rank").as("rank_t"))
      brute
        .join(t, col("query_id") === col("t_query") &&
          col("cand_id") === col("t_cand"), "full_outer")
        .select(coalesce(col("query_id"), col("t_query")).as("qid"),
          coalesce(col("rank_b"), lit(miss)).as("rb"),
          coalesce(col("rank_t"), lit(miss)).as("rt"))
        .groupBy(col("qid"))
        .agg(
          count(when(col("rb") <= TopK && col("rt") <= TopK, 1))
            .as("n_common"),
          sum(abs(col("rb") - col("rt"))).as("footrule"))
        .select(lit(name).as("tier"), col("qid").as("query_id"),
          col("n_common"), col("footrule"),
          (col("footrule").cast("double") /
            lit((TopK * (TopK + 1)).toDouble)).as("footrule_norm"))
    }.reduce(_ unionByName _)
      .orderBy("tier", "query_id")
  }

  /** Recall gate for [[annProjRerank]] against the brute-force truth
    * — the standard per-tier contract. The JL shortlist is lossy by
    * construction; this query is the measurement that says HOW lossy
    * on this corpus (the spec pins the floor). */
  val annProjRecall: Q = (s, d) => {
    val b = knnBrute(s, d).select(col("query_id"), col("cand_id"))
    val p = annProjRerank(s, d)
      .select(col("query_id").as("p_query"), col("cand_id").as("p_cand"))
    b.join(p, col("query_id") === col("p_query") &&
        col("cand_id") === col("p_cand"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("p_cand")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits").cast("double") / lit(TopK).cast("double"))
          .as("recall"))
      .orderBy("query_id")
  }

  val defs: Map[String, Q] = Map(
    "ann_index_upsert" -> annIndexUpsert,
    "ann_index_merge" -> annIndexMerge,
    "ann_index_compact" -> annIndexCompact,
    "ann_index_rewrite" -> annIndexRewrite,
    "ann_index_stats" -> annIndexStats,
    "hybrid_rrf" -> hybridRrf,
    "emb_split_contamination" -> embSplitContamination,
    "emb_outliers" -> embOutliers,
    "emb_winsorize" -> embWinsorize,
    "knn_brute" -> knnBrute,
    "ann_mmr_diversify" -> annMmrDiversify,
    "emb_normalize" -> embNormalize,
    "ann_lsh_buckets" -> annLshBuckets,
    "ann_probe_cost" -> annProbeCost,
    "ann_lsh_probe" -> annLshProbe,
    "ann_ivf" -> annIvf,
    "emb_near_dup" -> embNearDup,
    "emb_knn_label_agreement" -> embKnnLabelAgreement,
    "emb_label_stats" -> embLabelStats,
    "emb_centroids" -> embCentroids,
    "emb_centroid_drift" -> embCentroidDrift,
    "kmeans_assign" -> kmeansAssign,
    "kmeans_train" -> kmeansTrain,
    "kmeans_stability" -> kmeansStability,
    "ann_ivf_trained" -> annIvfTrained,
    "ann_ivf_trained_recall" -> annIvfTrainedRecall,
    "emb_semdedup" -> embSemdedup,
    "emb_semdedup_stats" -> embSemdedupStats,
    "emb_quantize" -> embQuantize,
    "emb_class_separation" -> embClassSeparation,
    "emb_dim_variance" -> embDimVariance,
    "emb_dim_corr" -> embDimCorr,
    "emb_principal_dir" -> embPrincipalDir,
    "ann_ivf_probe2" -> annIvfProbe2,
    "ann_lsh_recall" -> annLshRecall,
    "ann_recall_curve" -> annRecallCurve,
    "emb_prefix_recall" -> embPrefixRecall,
    "ann_prefix_rerank" -> annPrefixRerank,
    "ann_filtered" -> annFiltered,
    "ann_filtered_recall" -> annFilteredRecall,
    "emb_dup_text_verify" -> embDupTextVerify,
    "emb_pq_encode" -> embPqEncode,
    "emb_pq_distortion" -> embPqDistortion,
    "ann_pq_adc" -> annPqAdc,
    "ann_pq_recall" -> annPqRecall,
    "ann_pq_rerank" -> annPqRerank,
    "ann_hard_negatives" -> annHardNegatives,
    "emb_components" -> embComponents,
    "emb_split_assign" -> embSplitAssign,
    "ann_ivf_pq" -> annIvfPq,
    "ann_ivf_pq_recall" -> annIvfPqRecall,
    "emb_rand_proj" -> embRandProj,
    "ann_proj_rerank" -> annProjRerank,
    "ann_mrr" -> annMrr,
    "ann_footrule" -> annFootrule,
    "ann_proj_recall" -> annProjRecall)

  /** Batch oracle for [[StreamOps]]'s `stream_ann_upsert`: every
    * (incoming, same-bucket corpus) hit row with its cosine and the
    * per-row near-dup flag. Aggregation-free BY DESIGN — the
    * streaming gate keeps zero state, so it emits hit rows; the
    * per-vector (count, best-cos, verdict) rollup is
    * `ann_index_upsert`'s batch job. */
  private[graft] def sqlAnnUpsertHits: String =
    s"""WITH wb AS (
          SELECT vec_id, embedding,
            ${sqlBucket("embedding")} AS bucket,
            ${graft.functions.Hashing
              .sqlCharHash("CAST(vec_id AS VARCHAR)")} % 10 = 7 AS is_new
          FROM embeddings)
        SELECT b.vec_id, b.bucket, c.vec_id AS cand_id,
          ${sqlCosine("b.embedding", "c.embedding")} AS cos,
          CASE WHEN ${sqlCosine("b.embedding", "c.embedding")} >= 0.35
               THEN 'near_dup' ELSE 'ok' END AS flag
        FROM wb b JOIN wb c
          ON b.bucket = c.bucket AND b.is_new AND NOT c.is_new
        ORDER BY b.vec_id, cand_id"""

  /** Batch mirror of the streaming ingest-dedup probe
    * (`stream_vec_dedup`): the incoming side collapses to ONE
    * representative per distinct embedding (min vec_id — equals
    * first-arrival on the duplicate-free gate corpora; planted-dup
    * semantics are unit-pinned with a controlled source) before the
    * same bucket probe as [[sqlAnnUpsertHits]]. */
  private[graft] def sqlAnnUpsertDedupHits: String =
    s"""WITH wb AS (
          SELECT vec_id, embedding,
            ${sqlBucket("embedding")} AS bucket,
            ${graft.functions.Hashing
              .sqlCharHash("CAST(vec_id AS VARCHAR)")} % 10 = 7 AS is_new
          FROM embeddings),
        inc AS (
          SELECT vec_id, embedding, bucket FROM (
            SELECT vec_id, embedding, bucket,
              MIN(vec_id) OVER (PARTITION BY embedding) AS canon_id
            FROM wb WHERE is_new) z
          WHERE vec_id = canon_id)
        SELECT b.vec_id, b.bucket, c.vec_id AS cand_id,
          ${sqlCosine("b.embedding", "c.embedding")} AS cos,
          CASE WHEN ${sqlCosine("b.embedding", "c.embedding")} >= 0.35
               THEN 'near_dup' ELSE 'ok' END AS flag
        FROM inc b JOIN wb c
          ON b.bucket = c.bucket AND NOT c.is_new
        ORDER BY b.vec_id, cand_id"""

  private def sqlBucket(embExpr: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(0, $Planes), p ->
          CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, $Dims + 1),
              i -> CAST($embExpr[i] AS DOUBLE) * ${planeW("p", "i")})),
            (a, b) -> a + b) > 0
          THEN (CAST(1 AS BIGINT) << p) ELSE CAST(0 AS BIGINT) END)),
        (a, b) -> a + b)"""

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * an LCG step mapped into [-0.5, 0.5). The division is by a power
    * of two, so the double is exact and both engines agree bit-wise.
    * The LCG runs in BIGINT explicitly — int32 would overflow (Spark
    * wraps silently, DuckDB errors). Mirrors
    * [[graft.functions.LshBucket.weightTable]]. */
  private def planeW(p: String, i: String): String =
    s"(CAST((CAST(1103515245 AS BIGINT) * ($p * $Dims + $i) + 12345)" +
      s" % 2147483648 AS DOUBLE) / 2147483648.0 - 0.5)"

  /** SQL mirror of [[centroids]] (byd + cent CTE bodies, WITH-ready). */
  private def sqlCentCtes: String =
    s"""byd AS (
          SELECT label, idx.i - 1 AS dim,
            CAST(CAST(SUM(CAST(CAST(embedding[idx.i] AS VARCHAR)
              AS DECIMAL(30,20))) AS VARCHAR) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS mean
          FROM embeddings,
            (SELECT unnest(range(1, ${Dims + 1})) AS i) idx
          GROUP BY label, idx.i),
        cent AS (
          SELECT CAST(label AS BIGINT) AS clabel,
            list(mean ORDER BY dim) AS c
          FROM byd GROUP BY label)"""

  /** One decimal-exact UPDATE step as a CTE: per-(clabel, dim) means
    * of `src` (which must expose clabel + embedding). Mirrors
    * [[meansLong]]. */
  private def sqlByd(src: String, labelExpr: String, name: String): String =
    s"""$name AS (
          SELECT $labelExpr AS clabel, idx.i - 1 AS dim,
            CAST(CAST(SUM(CAST(CAST($src.embedding[idx.i] AS VARCHAR)
              AS DECIMAL(30,20))) AS VARCHAR) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS mean
          FROM $src, (SELECT unnest(range(1, ${Dims + 1})) AS i) idx
          GROUP BY $labelExpr, idx.i)"""

  private def sqlCentFrom(byd: String, name: String): String =
    s"""$name AS (SELECT clabel, list(mean ORDER BY dim) AS c
        FROM $byd GROUP BY clabel)"""

  /** One ASSIGN step as a CTE: nearest `cent` centroid per vector
    * (tie → lowest clabel). Mirrors [[assignToNearest]]. */
  private def sqlAssignCte(cent: String, name: String): String =
    sqlAssignBase(cent, name, "vec_id, embedding, clabel")

  /** One assign rule, two projections: [[sqlAssignCte]] and the
    * dist-carrying [[sqlAssignDistCte]] (the `emb_semdedup` oracle's
    * within-cell sort key) share this body so the nearest-centroid
    * tie-breaking has a single SQL source of truth. */
  private def sqlAssignBase(cent: String, name: String,
      cols: String): String =
    s"""$name AS (
          SELECT $cols FROM (
            SELECT e.vec_id, e.embedding, $cent.clabel,
              ${sqlSqDist("e.embedding", s"$cent.c")} AS dist,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY ${sqlSqDist("e.embedding", s"$cent.c")},
                         $cent.clabel) AS rn
            FROM embeddings e CROSS JOIN $cent) z
          WHERE rn = 1)"""

  private def sqlAssignDistCte(cent: String, name: String): String =
    sqlAssignBase(cent, name, "vec_id, embedding, clabel, dist")

  /** Mirror of [[embSemdedup]]: trained-cell assignment with dist,
    * one LEAD window per offset over the same (cell, dist DESC,
    * vec_id) order, exact-cosine verification, removed = later
    * member of any verified pair. */
  private def sqlEmbSemdedup: String = {
    val leads = (1 to SemWindow).map(i =>
      s"LEAD(vec_id, $i) OVER w AS b$i, " +
        s"LEAD(embedding, $i) OVER w AS e$i").mkString(",\n            ")
    val branches = (1 to SemWindow).map(i =>
      s"""SELECT b$i AS vec_id FROM nb
          WHERE b$i IS NOT NULL
            AND ${sqlCosine("embedding", s"e$i")} >= $TauSem""")
      .mkString("\n          UNION ALL\n          ")
    s"""WITH ${sqlLloydCtes.mkString(",\n")},
        ${sqlAssignDistCte(s"cent$KmeansIters", "afd")},
        nb AS (
          SELECT embedding,
            $leads
          FROM afd
          WINDOW w AS (PARTITION BY clabel ORDER BY dist DESC, vec_id)),
        rem AS (SELECT DISTINCT vec_id FROM (
          $branches) u)
        SELECT a.vec_id, a.clabel, a.dist,
          CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
            AS keep
        FROM afd a LEFT JOIN rem r ON a.vec_id = r.vec_id
        ORDER BY a.vec_id"""
  }

  /** [[KmeansIters]] unrolled Lloyd's rounds as a CTE chain — kept
    * structurally in sync with [[trainedCentroids]]'s loop by
    * construction. `cent$KmeansIters` is the trained quantizer. */
  private def sqlLloydCtes: Seq[String] = {
    val b = Seq.newBuilder[String]
    b += sqlByd("embeddings", "CAST(embeddings.label AS BIGINT)", "byd0")
    b += sqlCentFrom("byd0", "cent0")
    for (i <- 1 to KmeansIters) {
      b += sqlAssignCte(s"cent${i - 1}", s"a$i")
      b += sqlByd(s"a$i", s"a$i.clabel", s"byd$i")
      b += sqlCentFrom(s"byd$i", s"cent$i")
    }
    b.result()
  }

  /** Second Lloyd chain (hash-bucket init) for the stability oracle —
    * same parameterized CTE generators, `b`-prefixed names. */
  private def sqlLloydCtesB: Seq[String] = {
    val b = Seq.newBuilder[String]
    b += sqlByd("embeddings",
      s"${graft.functions.Hashing.sqlCharHash(
        "CAST(embeddings.vec_id AS VARCHAR)")} % 10", "bbyd0")
    b += sqlCentFrom("bbyd0", "bcent0")
    for (i <- 1 to KmeansIters) {
      b += sqlAssignCte(s"bcent${i - 1}", s"ba$i")
      b += sqlByd(s"ba$i", s"ba$i.clabel", s"bbyd$i")
      b += sqlCentFrom(s"bbyd$i", s"bcent$i")
    }
    b.result()
  }

  private def sqlKmeansStability: String =
    s"""WITH ${sqlLloydCtes.mkString(",\n")},
        ${sqlLloydCtesB.mkString(",\n")},
        ${sqlAssignCte(s"cent$KmeansIters", "fa")},
        ${sqlAssignCte(s"bcent$KmeansIters", "fb")},
        cont AS (
          SELECT fa.clabel AS a, fb.clabel AS b,
            CAST(COUNT(*) AS BIGINT) AS nij
          FROM fa JOIN fb ON fa.vec_id = fb.vec_id
          GROUP BY 1, 2),
        t AS (
          SELECT CAST(SUM(nij) AS BIGINT) AS n,
            CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS s_ab
          FROM cont),
        rra AS (
          SELECT CAST(SUM(na * (na - 1) // 2) AS BIGINT) AS s_a,
            CAST(COUNT(*) AS BIGINT) AS k_a
          FROM (SELECT CAST(SUM(nij) AS BIGINT) AS na
                FROM cont GROUP BY a) z),
        rrb AS (
          SELECT CAST(SUM(nb * (nb - 1) // 2) AS BIGINT) AS s_b,
            CAST(COUNT(*) AS BIGINT) AS k_b
          FROM (SELECT CAST(SUM(nij) AS BIGINT) AS nb
                FROM cont GROUP BY b) z)
        SELECT t.n AS n_vecs, rra.k_a AS n_clusters_a,
          rrb.k_b AS n_clusters_b,
          t.n * (t.n - 1) // 2 AS pairs_total,
          t.n * (t.n - 1) // 2 + 2 * t.s_ab - rra.s_a - rrb.s_b
            AS pairs_agree,
          CAST(t.n * (t.n - 1) // 2 + 2 * t.s_ab - rra.s_a - rrb.s_b
            AS DOUBLE) / CAST(t.n * (t.n - 1) // 2 AS DOUBLE)
            AS rand_index
        FROM t, rra, rrb"""

  private def sqlKmeansTrain: String =
    s"""WITH ${sqlLloydCtes.mkString(",\n")}
        SELECT clabel, dim, mean FROM byd$KmeansIters
        ORDER BY clabel, dim"""

  /** SQL mirror of [[sqDist]]: same element order, same fold. */
  private def sqlSqDist(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, ${Dims + 1}),
          i -> (CAST($a[i] AS DOUBLE) - $b[i])
             * (CAST($a[i] AS DOUBLE) - $b[i]))),
        (x, y) -> x + y)"""

  private def sqlTopK(candJoin: String, k: Int): String =
    s"""SELECT query_id, rank, cand_id, cos FROM (
          SELECT query_id, cand_id, cos,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, cand_id) AS rank
          FROM ($candJoin) pairs) ranked
        WHERE rank <= $k ORDER BY query_id, rank"""

  /** Mirror of [[canonVecs]] + the representative filter: pairs run
    * between min-id canonical representatives of byte-identical
    * embeddings only. */
  private val sqlEmbNearDup: String =
    s"""WITH cv AS (
          SELECT vec_id,
            MIN(vec_id) OVER (PARTITION BY embedding) AS canon_id
          FROM embeddings),
        wb AS (SELECT e.vec_id, e.embedding,
          ${sqlBucket("e.embedding")} AS bucket
          FROM embeddings e JOIN cv ON e.vec_id = cv.vec_id
          WHERE cv.vec_id = cv.canon_id)
        SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
          ${sqlCosine("x.embedding", "y.embedding")} AS cos
        FROM wb x JOIN wb y
          ON x.bucket = y.bucket AND x.vec_id < y.vec_id
        WHERE ${sqlCosine("x.embedding", "y.embedding")} >= 0.35
        ORDER BY vec_a, vec_b"""

  /** Recursive-CTE mirror of [[embComponentsRel]] (comp = min
    * reachable vec_id over the verified near-dup graph, plus the
    * exact-duplicate member→canonical edges), WITH-ready — shared by
    * the emb_components and emb_split_assign oracles. */
  private def sqlEmbCompCtes: String =
    s"""p AS (SELECT vec_a, vec_b FROM ($sqlEmbNearDup) nd),
        cvg AS (
          SELECT vec_id,
            MIN(vec_id) OVER (PARTITION BY embedding) AS canon_id
          FROM embeddings),
        dupe AS (
          SELECT vec_id AS src, canon_id AS dst FROM cvg
          WHERE vec_id <> canon_id),
        edges AS (
          SELECT vec_a AS src, vec_b AS dst FROM p
          UNION SELECT vec_b, vec_a FROM p
          UNION SELECT src, dst FROM dupe
          UNION SELECT dst, src FROM dupe),
        reach AS (
          SELECT vec_id AS src, vec_id AS dst FROM embeddings
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (
          SELECT src AS vec_id, MIN(dst) AS component_id
          FROM reach GROUP BY src)"""

  private val sqlKnnBrute: String = sqlTopK(
    s"""SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        ${sqlCosine("q.embedding", "c.embedding")} AS cos
        FROM embeddings q, embeddings c
        WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries""", TopK)

  /** [[embPrefixRecall]]'s mirror: the full-dim truth and each
    * prefix run recomputed from scratch, the m grid completed from a
    * VALUES list so zero-hit prefixes report 0.0. */
  private lazy val sqlPrefixRecall: String = {
    val prefixRuns = PrefixDims.map { m =>
      s"""SELECT CAST($m AS BIGINT) AS m, query_id, cand_id
          FROM (${sqlTopK(
        s"""SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              ${sqlCosineM("q.embedding", "c.embedding", m)} AS cos
              FROM embeddings q, embeddings c
              WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries""",
        TopK)}) p$m"""
    }.mkString("\n          UNION ALL\n          ")
    val msValues = PrefixDims
      .map(m => s"(CAST($m AS BIGINT))").mkString(", ")
    s"""WITH truth AS (
          SELECT query_id, cand_id FROM ($sqlKnnBrute) t),
        np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_possible FROM truth),
        runs AS (
          $prefixRuns),
        hits AS (
          SELECT r.m, CAST(COUNT(*) AS BIGINT) AS n_hits
          FROM runs r JOIN truth t ON t.query_id = r.query_id
            AND t.cand_id = r.cand_id
          GROUP BY r.m),
        ms(m) AS (VALUES $msValues)
        SELECT ms.m,
          CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
          np.n_possible,
          CASE WHEN np.n_possible = 0 THEN NULL
            ELSE CAST(COALESCE(h.n_hits, 0) AS DOUBLE) /
              CAST(np.n_possible AS DOUBLE) END AS recall
        FROM ms CROSS JOIN np LEFT JOIN hits h ON h.m = ms.m
        ORDER BY ms.m"""
  }

  /** The [[annMmrDiversify]] greedy loop unrolled as a CTE chain:
    * per step, max-sim against the selected set then a ROW_NUMBER
    * argmax mirroring the Spark side's max(struct(score, −cand_id)). */
  private val sqlMmrDiversify: String = {
    val pairs =
      s"""SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlCosine("q.embedding", "c.embedding")} AS cos
          FROM embeddings q, embeddings c
          WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries"""
    val sb = new StringBuilder
    sb.append(
      s"""WITH base AS (
            SELECT query_id, cand_id, cos AS rel
            FROM (${sqlTopK(pairs, MmrShort)}) s),
          sel1 AS (
            SELECT query_id, CAST(1 AS BIGINT) AS step, cand_id, rel,
              0.0 AS maxsim, 0.5 * rel AS score
            FROM (SELECT base.*, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY 0.5 * rel DESC, cand_id) AS rn FROM base) z
            WHERE rn = 1),
          all1 AS (SELECT * FROM sel1)""")
    for (i <- 2 to MmrK) {
      sb.append(s""",
          m$i AS (
            SELECT b.query_id, b.cand_id, b.rel,
              MAX(${sqlCosine("ec.embedding", "es.embedding")}) AS maxsim
            FROM base b
            JOIN all${i - 1} s ON b.query_id = s.query_id
            JOIN embeddings ec ON ec.vec_id = b.cand_id
            JOIN embeddings es ON es.vec_id = s.cand_id
            WHERE NOT EXISTS (SELECT 1 FROM all${i - 1} x
              WHERE x.query_id = b.query_id AND x.cand_id = b.cand_id)
            GROUP BY b.query_id, b.cand_id, b.rel),
          sel$i AS (
            SELECT query_id, CAST($i AS BIGINT) AS step, cand_id, rel,
              maxsim, 0.5 * rel - 0.5 * maxsim AS score
            FROM (SELECT m$i.*, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY 0.5 * rel - 0.5 * maxsim DESC, cand_id)
                    AS rn FROM m$i) z
            WHERE rn = 1),
          all$i AS (SELECT * FROM all${i - 1}
                    UNION ALL SELECT * FROM sel$i)""")
    }
    sb.append(s"""
        SELECT query_id, step, cand_id, rel, maxsim, score
        FROM all$MmrK ORDER BY query_id, step""")
    sb.toString
  }

  /** (vec_id, p0..p7) projection — per-output-dim ±1 sign lists
    * generated from [[ProjSigns]], the same Scala constants the Spark
    * side projects with, emitted as CAST(±1 AS DOUBLE) elements (a
    * bare numeric list literal unifies to DECIMAL in DuckDB — the
    * HLL lookup-table lesson). Shared by `emb_rand_proj` and the
    * projected search tier. */
  private val sqlProjSelect: String = {
    def signList(j: Int): String = ProjSigns(j)
      .map(v => s"CAST(${v.toInt} AS DOUBLE)")
      .mkString("[", ", ", "]")
    def proj(j: Int): String =
      s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(range(1, ${Dims + 1}),
            i -> CAST(embedding[i] AS DOUBLE) * (${signList(j)})[i])),
          (acc, v) -> acc + v) AS p$j"""
    s"""SELECT vec_id,
          ${(0 until ProjDims).map(proj).mkString(",\n          ")}
        FROM embeddings"""
  }

  /** Mirror of [[projCos]]: the same left-associated
    * `0.0 + p0·p0 + …` chains. */
  private def sqlProjCos(qa: String, ca: String): String = {
    def chain(a: String, b: String) = (0 until ProjDims)
      .map(j => s"$a.p$j * $b.p$j")
      .foldLeft("0.0")((acc, t) => s"$acc + $t")
    s"(${chain(qa, ca)}) / (sqrt(${chain(qa, qa)}) * sqrt(${chain(ca, ca)}))"
  }

  private val sqlAnnProjRerank: String = sqlTopK(
    s"""WITH proj AS ($sqlProjSelect),
        short AS (
          SELECT query_id, cand_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              ROW_NUMBER() OVER (PARTITION BY q.vec_id
                ORDER BY ${sqlProjCos("q", "c")} DESC, c.vec_id)
                AS prank
            FROM proj q JOIN proj c
              ON q.vec_id < $NQueries AND c.vec_id >= $NQueries
              AND (${(0 until ProjDims).map(j => s"c.p$j * c.p$j")
                  .foldLeft("0.0")((acc, t) => s"$acc + $t")}) > 0.0
              AND (${(0 until ProjDims).map(j => s"q.p$j * q.p$j")
                  .foldLeft("0.0")((acc, t) => s"$acc + $t")}) > 0.0) z
          WHERE prank <= $ProjShortlist)
        SELECT s.query_id, s.cand_id,
          ${sqlCosine("q.embedding", "c.embedding")} AS cos
        FROM short s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.cand_id""", TopK)

  private val sqlAnnFiltered: String = sqlTopK(
    s"""WITH wb AS (SELECT vec_id, embedding, label,
          ${sqlBucket("embedding")} AS bucket FROM embeddings)
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlCosine("q.embedding", "c.embedding")} AS cos
        FROM wb q JOIN wb c
          ON q.bucket = c.bucket AND q.label = c.label
        WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries""", TopK)

  private val sqlFilteredTruth: String = sqlTopK(
    s"""SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
        ${sqlCosine("q.embedding", "c.embedding")} AS cos
        FROM embeddings q, embeddings c
        WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries
          AND CAST(q.label AS BIGINT) = CAST(c.label AS BIGINT)""", TopK)

  private val sqlAnnLshProbe: String = sqlTopK(
    s"""WITH wb AS (SELECT vec_id, embedding,
          ${sqlBucket("embedding")} AS bucket FROM embeddings)
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlCosine("q.embedding", "c.embedding")} AS cos
        FROM wb q JOIN wb c ON q.bucket = c.bucket
        WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries""", TopK)

  private val sqlAnnIvfTrained: String = sqlTopK(
    s"""WITH ${sqlLloydCtes.mkString(",\n")},
        ${sqlAssignCte(s"cent$KmeansIters", "af")}
        SELECT qa.vec_id AS query_id, ca.vec_id AS cand_id,
          ${sqlCosine("qa.embedding", "ca.embedding")} AS cos
        FROM af qa JOIN af ca ON qa.clabel = ca.clabel
        WHERE qa.vec_id < $NQueries AND ca.vec_id >= $NQueries""", TopK)

  // lazy: oracle strings interpolate constants from SIBLING operator
  // objects (TextOps -> SimilarityOps.Dims, SimilarityOps -> DedupOps
  // delta constants, DedupOps -> TextOps.oracle), so eager init here
  // would make the map's value depend on which object the JVM
  // happened to initialize first (a mid-cycle read sees null). Lazy
  // defers interpolation past every clinit.
  private lazy val oracleBase: Map[String, String] = Map(
    "emb_winsorize" ->
      s"""WITH vals AS (
            SELECT vec_id, idx.i - 1 AS dim,
              CAST(embedding[idx.i] AS DOUBLE) AS v
            FROM embeddings,
              (SELECT unnest(range(1, ${Dims + 1})) AS i) idx),
          bounds AS (
            SELECT dim, quantile_cont(v, 0.05) AS lo,
              quantile_cont(v, 0.95) AS hi
            FROM vals GROUP BY dim)
          SELECT vals.vec_id, vals.dim, vals.v, b.lo, b.hi,
            least(greatest(vals.v, b.lo), b.hi) AS v_clip
          FROM vals JOIN bounds b ON vals.dim = b.dim
          ORDER BY vals.vec_id, vals.dim""",
    "emb_outliers" ->
      s"""WITH $sqlCentCtes,
          wd AS (
            SELECT e.vec_id, cent.clabel AS label,
              ${sqlSqDist("e.embedding", "cent.c")} AS dist
            FROM embeddings e
            JOIN cent ON CAST(e.label AS BIGINT) = cent.clabel),
          p AS (
            SELECT label, quantile_cont(dist, 0.95) AS label_p95
            FROM wd GROUP BY label)
          SELECT wd.vec_id, wd.label, wd.dist, p.label_p95,
            CASE WHEN wd.dist > p.label_p95 THEN 'outlier'
                 ELSE 'ok' END AS verdict
          FROM wd JOIN p ON wd.label = p.label
          ORDER BY wd.vec_id""",
    "ann_index_upsert" ->
      s"""WITH wb AS (
            SELECT vec_id, embedding,
              ${sqlBucket("embedding")} AS bucket,
              ${graft.functions.Hashing
                .sqlCharHash("CAST(vec_id AS VARCHAR)")} % 10 = 7 AS is_new
            FROM embeddings),
          pr AS (
            SELECT b.vec_id, COUNT(*) AS n_bucket_cands,
              MAX(${sqlCosine("b.embedding", "c.embedding")}) AS best_cos
            FROM wb b JOIN wb c
              ON b.bucket = c.bucket AND b.is_new AND NOT c.is_new
            GROUP BY b.vec_id)
          SELECT b.vec_id, b.bucket,
            CAST(COALESCE(pr.n_bucket_cands, 0) AS BIGINT)
              AS n_bucket_cands,
            pr.best_cos,
            CASE WHEN pr.best_cos >= 0.35 THEN 'near_dup'
                 ELSE 'insert' END AS verdict
          FROM wb b LEFT JOIN pr ON b.vec_id = pr.vec_id
          WHERE b.is_new ORDER BY b.vec_id""",
    "hybrid_rrf" ->
      s"""WITH wb AS (
            SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket
            FROM embeddings),
          q AS (SELECT vec_id AS query_id, embedding AS qe, bucket
                FROM wb WHERE vec_id < $NQueries),
          c AS (SELECT vec_id AS cand_id, embedding AS ce, bucket
                FROM wb WHERE vec_id >= $NQueries),
          pairs AS (
            SELECT q.query_id, c.cand_id,
              ${sqlCosine("q.qe", "c.ce")} AS cos
            FROM c JOIN q USING (bucket)),
          toks AS (
            SELECT doc_id,
              unnest(list_distinct(${graft.functions.Hashing
                .sqlTokens("text")})) AS tok
            FROM documents),
          lex AS (
            SELECT p.query_id, p.cand_id, COUNT(*) AS n_common
            FROM pairs p
            JOIN toks a ON a.doc_id = p.query_id
            JOIN toks b ON b.doc_id = p.cand_id AND b.tok = a.tok
            GROUP BY p.query_id, p.cand_id),
          ranked AS (
            SELECT p.query_id, p.cand_id, p.cos,
              CAST(COALESCE(l.n_common, 0) AS BIGINT) AS n_common,
              ROW_NUMBER() OVER (PARTITION BY p.query_id
                ORDER BY COALESCE(l.n_common, 0) DESC, p.cand_id) AS r_lex,
              ROW_NUMBER() OVER (PARTITION BY p.query_id
                ORDER BY p.cos DESC, p.cand_id) AS r_vec
            FROM pairs p
            LEFT JOIN lex l
              ON p.query_id = l.query_id AND p.cand_id = l.cand_id),
          fused AS (
            SELECT query_id, cand_id, n_common, cos,
              CAST(1 AS DOUBLE) / (CAST($RrfK AS DOUBLE)
                + CAST(r_lex AS DOUBLE))
              + CAST(1 AS DOUBLE) / (CAST($RrfK AS DOUBLE)
                + CAST(r_vec AS DOUBLE)) AS rrf
            FROM ranked),
          topk AS (
            SELECT query_id, cand_id, n_common, cos, rrf,
              ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY rrf DESC, cand_id) AS rank
            FROM fused)
          SELECT query_id, CAST(rank AS BIGINT) AS rank, cand_id,
            n_common, cos, rrf
          FROM topk WHERE rank <= 10
          ORDER BY query_id, rank""",
    // full REBUILD of (bucket, norm) over embeddings ∖ tombstones:
    // bit-equality against Spark's filter-compaction — DOUBLE norms
    // included — IS the compact ≡ rebuild proof
    "ann_index_compact" ->
      s"""SELECT vec_id,
          ${sqlBucket("embedding")} AS bucket,
          sqrt(${sqlDot("embedding", "embedding")}) AS norm
          FROM embeddings
          WHERE ${graft.functions.Hashing
            .sqlCharHash("CAST(vec_id AS VARCHAR)")} % 10
            != ${DedupOps.TombTag}
          ORDER BY vec_id""",
    // the per-label rewrite-trigger monitor
    "ann_index_stats" ->
      s"""WITH st AS (
            SELECT CAST(label AS BIGINT) AS label,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(*) FILTER (
                WHERE ${graft.functions.Hashing
                  .sqlCharHash("CAST(vec_id AS VARCHAR)")} % 10
                  = ${DedupOps.TombTag}) AS BIGINT) AS n_tomb
            FROM embeddings GROUP BY 1)
          SELECT label, n_rows, n_tomb,
            CAST(n_rows - n_tomb AS DOUBLE) / CAST(n_rows AS DOUBLE)
              AS live_frac
          FROM st ORDER BY label""",
    // the physical rewrite must be indistinguishable from the logical
    // delete AND from a full rebuild — same oracle as the compact
    "ann_index_rewrite" ->
      s"""SELECT vec_id,
          ${sqlBucket("embedding")} AS bucket,
          sqrt(${sqlDot("embedding", "embedding")}) AS norm
          FROM embeddings
          WHERE ${graft.functions.Hashing
            .sqlCharHash("CAST(vec_id AS VARCHAR)")} % 10
            != ${DedupOps.TombTag}
          ORDER BY vec_id""",
    // full REBUILD of (bucket, norm) over corpus ∪ delta: bit-equality
    // against Spark's append-only merge — DOUBLE norms included — IS
    // the merge ≡ rebuild proof
    "ann_index_merge" ->
      s"""WITH allv AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + ${DedupOps.DeltaIdOffset} AS vec_id, embedding
            FROM embeddings
            WHERE ${graft.functions.Hashing
              .sqlCharHash("CAST(vec_id AS VARCHAR)")} % 10
              = ${DedupOps.DeltaTag})
          SELECT vec_id,
            ${sqlBucket("embedding")} AS bucket,
            sqrt(${sqlDot("embedding", "embedding")}) AS norm
          FROM allv ORDER BY vec_id""",
    "knn_brute" -> sqlKnnBrute,
    "emb_prefix_recall" -> sqlPrefixRecall,
    // the two stages as nested CTEs: prefix-cosine shortlist, exact
    // rerank — both tie orders (cos DESC, cand_id) mirrored
    "ann_prefix_rerank" -> sqlTopK(
      s"""SELECT s.query_id, s.cand_id,
          ${sqlCosine("q.embedding", "c.embedding")} AS cos
          FROM (${sqlTopK(
        s"""SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
            ${sqlCosineM("q.embedding", "c.embedding", PrefixRerankM)} AS cos
            FROM embeddings q, embeddings c
            WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries""",
        PrefixShort)}) s
          JOIN embeddings q ON q.vec_id = s.query_id
          JOIN embeddings c ON c.vec_id = s.cand_id""", TopK),
    "ann_mmr_diversify" -> sqlMmrDiversify,
    "ann_hard_negatives" -> sqlTopK(
      s"""SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlCosine("q.embedding", "c.embedding")} AS cos
          FROM embeddings q, embeddings c
          WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries
            AND CAST(q.label AS BIGINT) != CAST(c.label AS BIGINT)""",
      TopK),
    "ann_lsh_recall" ->
      s"""SELECT b.query_id, COUNT(p.cand_id) AS n_hits,
          CAST(COUNT(p.cand_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
          FROM ($sqlKnnBrute) b
          LEFT JOIN ($sqlAnnLshProbe) p
            ON b.query_id = p.query_id AND b.cand_id = p.cand_id
          GROUP BY b.query_id ORDER BY b.query_id""",
    // label equality folded into the candidate join, mirroring the
    // Spark side's compound (bucket, label) equi-key
    "ann_filtered" -> sqlAnnFiltered,
    "ann_filtered_recall" ->
      s"""SELECT b.query_id, COUNT(p.cand_id) AS n_hits,
          CAST(COUNT(p.cand_id) AS DOUBLE) / CAST($TopK AS DOUBLE)
            AS recall
          FROM ($sqlFilteredTruth) b
          LEFT JOIN ($sqlAnnFiltered) p
            ON b.query_id = p.query_id AND b.cand_id = p.cand_id
          GROUP BY b.query_id ORDER BY b.query_id""",
    "ann_recall_curve" ->
      s"""WITH b AS (
            SELECT query_id, cand_id, rank AS t_rank FROM ($sqlKnnBrute)),
          p AS (
            SELECT query_id, cand_id, rank AS p_rank
            FROM ($sqlAnnLshProbe)),
          ks(k) AS (VALUES (CAST(1 AS BIGINT)), (CAST(3 AS BIGINT)),
            (CAST(5 AS BIGINT))),
          j AS (
            SELECT b.query_id, b.t_rank, p.p_rank
            FROM b LEFT JOIN p
              ON b.query_id = p.query_id AND b.cand_id = p.cand_id)
          SELECT k,
            CAST(SUM(CASE WHEN p_rank IS NOT NULL AND p_rank <= k
              THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
            COUNT(*) AS n_possible
          FROM j CROSS JOIN ks WHERE t_rank <= k
          GROUP BY k ORDER BY k""",
    "ann_lsh_buckets" ->
      s"""SELECT ${sqlBucket("embedding")} AS bucket, COUNT(*) AS n,
          MIN(vec_id) AS min_vec
          FROM embeddings GROUP BY bucket ORDER BY bucket""",
    "ann_lsh_probe" -> sqlAnnLshProbe,
    "ann_probe_cost" -> {
      def cost(cellsCte: String, name: String) =
        s"""SELECT '$name' AS index_name,
            CAST(COUNT(*) AS BIGINT) AS n_cells,
            CAST(SUM(n) AS BIGINT) AS n_vecs,
            CAST(MAX(n) AS BIGINT) AS max_cell,
            CAST(SUM(n * n) AS BIGINT) AS sum_sq,
            CAST(SUM(n * n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
              AS expected_scan
            FROM (SELECT cell, COUNT(*) AS n FROM $cellsCte
                  GROUP BY cell) h"""
      s"""WITH $sqlCentCtes,
          scored AS (
            SELECT e.vec_id, cent.clabel,
              ${sqlSqDist("e.embedding", "cent.c")} AS dist
            FROM embeddings e CROSS JOIN cent),
          asg AS (
            SELECT vec_id, clabel AS cell FROM (
              SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY dist, clabel) AS rn
              FROM scored) z
            WHERE rn = 1),
          lshc AS (SELECT ${sqlBucket("embedding")} AS cell
                   FROM embeddings)
          SELECT * FROM (${cost("lshc", "lsh")}
            UNION ALL ${cost("asg", "ivf")}) u
          ORDER BY index_name"""
    },
    "ann_ivf" -> sqlTopK(
      s"""SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
          ${sqlCosine("q.embedding", "c.embedding")} AS cos
          FROM embeddings q JOIN embeddings c ON q.label = c.label
          WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries""", 3),
    "emb_near_dup" -> sqlEmbNearDup,
    // 1-NN label agreement: bucket-local neighbor, cosine-then-id
    // argmax, integer agreement counts, one final division; lone
    // vectors in their bucket stay in n but not n_scored.
    "emb_knn_label_agreement" ->
      s"""WITH wb AS MATERIALIZED (
            SELECT vec_id, embedding,
              ${sqlBucket("embedding")} AS bucket
            FROM embeddings),
          nn AS (
            SELECT vec_id, nbr FROM (
              SELECT x.vec_id, y.vec_id AS nbr,
                ROW_NUMBER() OVER (PARTITION BY x.vec_id
                  ORDER BY ${sqlCosine("x.embedding", "y.embedding")}
                    DESC, y.vec_id) AS rn
              FROM wb x JOIN wb y
                ON x.bucket = y.bucket AND x.vec_id <> y.vec_id) z
            WHERE rn = 1),
          pred AS (
            SELECT nn.vec_id, CAST(e.label AS BIGINT) AS pred
            FROM nn JOIN embeddings e ON e.vec_id = nn.nbr)
          SELECT CAST(e.label AS BIGINT) AS label,
            CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN p.pred IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_scored,
            CAST(SUM(CASE WHEN p.pred = CAST(e.label AS BIGINT)
              THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
            CASE WHEN SUM(CASE WHEN p.pred IS NOT NULL THEN 1 ELSE 0
                END) > 0
              THEN CAST(SUM(CASE WHEN p.pred = CAST(e.label AS BIGINT)
                  THEN 1 ELSE 0 END) AS DOUBLE)
                / CAST(SUM(CASE WHEN p.pred IS NOT NULL THEN 1 ELSE 0
                  END) AS DOUBLE)
              ELSE 0.0 END AS agreement
          FROM embeddings e LEFT JOIN pred p ON p.vec_id = e.vec_id
          GROUP BY 1 ORDER BY label""",
    "emb_components" ->
      s"""WITH RECURSIVE $sqlEmbCompCtes
          SELECT vec_id, component_id FROM comp ORDER BY vec_id""",
    "emb_split_assign" ->
      s"""WITH RECURSIVE $sqlEmbCompCtes
          SELECT vec_id, component_id,
            CASE WHEN b < 8 THEN 'train'
                 WHEN b = 8 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT vec_id, component_id,
                  ${graft.functions.Hashing.sqlCharHash(
                    "CAST(component_id AS VARCHAR)")} % 10 AS b
                FROM comp) z
          ORDER BY vec_id""",
    "emb_split_contamination" ->
      s"""WITH RECURSIVE $sqlEmbCompCtes,
          sp AS (
            SELECT vec_id,
              CASE WHEN ${graft.functions.Hashing.sqlCharHash(
                "CAST(component_id AS VARCHAR)")} % 10 < 8 THEN 'train'
                   WHEN ${graft.functions.Hashing.sqlCharHash(
                "CAST(component_id AS VARCHAR)")} % 10 = 8 THEN 'val'
                   ELSE 'test' END AS split
            FROM comp),
          wb AS (
            SELECT e.vec_id, e.embedding, s.split,
              ${sqlBucket("embedding")} AS bucket
            FROM embeddings e JOIN sp s ON e.vec_id = s.vec_id),
          pairs AS (
            SELECT ev.vec_id, ev.split, tr.vec_id AS train_id,
              ${sqlCosine("ev.embedding", "tr.embedding")} AS cos
            FROM wb ev JOIN wb tr
              ON ev.bucket = tr.bucket
                 AND ev.split != 'train' AND tr.split = 'train'
            WHERE ${sqlCosine("ev.embedding", "tr.embedding")}
              >= $EmbContamMin),
          ranked AS (
            SELECT vec_id, split, train_id, cos,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, train_id) AS rn,
              COUNT(*) OVER (PARTITION BY vec_id) AS n_train_hits
            FROM pairs)
          SELECT vec_id, split, CAST(n_train_hits AS BIGINT)
              AS n_train_hits,
            cos AS best_cos, train_id AS best_train_id,
            CASE WHEN cos >= 0.35 THEN 'edge_leak' ELSE 'gray' END
              AS risk
          FROM ranked WHERE rn = 1 ORDER BY vec_id""",
    "emb_dup_text_verify" ->
      s"""WITH p AS (SELECT * FROM ($sqlEmbNearDup) nd),
          tok AS (
            SELECT doc_id,
              unnest(list_distinct(${graft.functions.Hashing.sqlTokens("text")}))
                AS tok
            FROM documents),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
          inter AS (
            SELECT p.vec_a, p.vec_b, COUNT(*) AS n_inter
            FROM p
            JOIN tok ta ON p.vec_a = ta.doc_id
            JOIN tok tb ON p.vec_b = tb.doc_id AND ta.tok = tb.tok
            GROUP BY p.vec_a, p.vec_b)
          SELECT p.vec_a, p.vec_b, p.cos,
            COALESCE(i.n_inter, 0) AS n_inter,
            za.n + zb.n - COALESCE(i.n_inter, 0) AS n_union,
            CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
              / CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE)
              AS token_jaccard
          FROM p
          JOIN sizes za ON p.vec_a = za.doc_id
          JOIN sizes zb ON p.vec_b = zb.doc_id
          LEFT JOIN inter i ON p.vec_a = i.vec_a AND p.vec_b = i.vec_b
          ORDER BY p.vec_a, p.vec_b""",
    "emb_centroids" ->
      s"""SELECT CAST(label AS BIGINT) AS label, idx.i - 1 AS dim,
            -- decimal->double via VARCHAR: DuckDB's direct cast
            -- double-rounds (int/10^scale in float math); the string
            -- parse is correctly rounded, matching Spark's
            -- BigDecimal.doubleValue
            CAST(CAST(SUM(CAST(CAST(embedding[idx.i] AS VARCHAR)
              AS DECIMAL(30,20))) AS VARCHAR) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS mean
          FROM embeddings,
            (SELECT unnest(range(1, ${Dims + 1})) AS i) idx
          GROUP BY label, idx.i ORDER BY label, dim""",
    "emb_centroid_drift" -> {
      def mean(where: String) =
        s"""SELECT label, idx.i AS dim,
            CAST(CAST(SUM(CAST(CAST(embedding[idx.i] AS VARCHAR)
              AS DECIMAL(30,20))) AS VARCHAR) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS m
          FROM embeddings,
            (SELECT unnest(range(1, ${Dims + 1})) AS i) idx
          $where GROUP BY label, idx.i"""
      s"""WITH oldm AS (${mean(s"WHERE vec_id % 10 <> $DriftTag")}),
          newm AS (${mean("")})
          SELECT CAST(n.label AS BIGINT) AS label,
            CAST(COUNT(*) AS BIGINT) AS n_dims,
            MAX(abs(n.m - o.m)) AS max_shift,
            MIN(abs(n.m - o.m)) AS min_shift,
            CAST(SUM(CASE WHEN abs(n.m - o.m) > $DriftEps
              THEN 1 ELSE 0 END) AS BIGINT) AS n_drifted
          FROM newm n JOIN oldm o ON n.label = o.label AND n.dim = o.dim
          GROUP BY n.label ORDER BY label"""
    },
    "kmeans_assign" ->
      s"""WITH $sqlCentCtes,
          scored AS (
            SELECT e.vec_id, CAST(e.label AS BIGINT) AS old_label,
              cent.clabel,
              ${sqlSqDist("e.embedding", "cent.c")} AS dist
            FROM embeddings e CROSS JOIN cent)
          SELECT vec_id, old_label, clabel AS assigned, dist FROM (
            SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY dist, clabel) AS rn
            FROM scored) z
          WHERE rn = 1 ORDER BY vec_id""",
    "kmeans_train" -> sqlKmeansTrain,
    "kmeans_stability" -> sqlKmeansStability,
    "ann_ivf_trained" -> sqlAnnIvfTrained,
    "emb_semdedup" -> sqlEmbSemdedup,
    "emb_semdedup_stats" ->
      s"""SELECT clabel,
            CAST(COUNT(*) AS BIGINT) AS n_members,
            CAST(SUM(1 - keep) AS BIGINT) AS n_removed,
            CAST(CAST(COUNT(*) AS BIGINT)
                - CAST(SUM(1 - keep) AS BIGINT) AS DOUBLE)
              / CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS live_frac
          FROM ($sqlEmbSemdedup) sd
          GROUP BY clabel ORDER BY clabel""",
    "ann_ivf_trained_recall" ->
      s"""SELECT b.query_id, COUNT(p.cand_id) AS n_hits,
          CAST(COUNT(p.cand_id) AS DOUBLE) / CAST($TopK AS DOUBLE) AS recall
          FROM ($sqlKnnBrute) b
          LEFT JOIN ($sqlAnnIvfTrained) p
            ON b.query_id = p.query_id AND b.cand_id = p.cand_id
          GROUP BY b.query_id ORDER BY b.query_id""",
    "ann_ivf_probe2" -> sqlTopK(
      s"""WITH $sqlCentCtes,
          qc AS (
            SELECT query_id, clabel, qe FROM (
              SELECT q.vec_id AS query_id, q.embedding AS qe, cent.clabel,
                ROW_NUMBER() OVER (PARTITION BY q.vec_id
                  ORDER BY ${sqlSqDist("q.embedding", "cent.c")},
                           cent.clabel) AS crk
              FROM embeddings q CROSS JOIN cent
              WHERE q.vec_id < $NQueries) z
            WHERE crk <= 2)
          SELECT qc.query_id, c.vec_id AS cand_id,
            ${sqlCosine("qc.qe", "c.embedding")} AS cos
          FROM qc JOIN embeddings c
            ON CAST(c.label AS BIGINT) = qc.clabel
               AND c.vec_id >= $NQueries""", TopK),
    "emb_rand_proj" -> s"$sqlProjSelect ORDER BY vec_id",
    "ann_proj_rerank" -> sqlAnnProjRerank,
    "ann_proj_recall" ->
      s"""SELECT b.query_id, COUNT(p.cand_id) AS n_hits,
          CAST(COUNT(p.cand_id) AS DOUBLE) / CAST($TopK AS DOUBLE)
            AS recall
          FROM ($sqlKnnBrute) b
          LEFT JOIN ($sqlAnnProjRerank) p
            ON b.query_id = p.query_id AND b.cand_id = p.cand_id
          GROUP BY b.query_id ORDER BY b.query_id""",
    // Class separation: HUGEINT mirrors the Spark side's
    // DECIMAL(19,0)-widened products; every reported double is one
    // division (or a ratio of two identically-derived doubles).
    "emb_class_separation" ->
      s"""WITH longf AS (
            SELECT vec_id, idx.i - 1 AS dim,
              CAST(embedding[idx.i] AS DOUBLE) AS v
            FROM embeddings,
              (SELECT unnest(range(1, ${Dims + 1})) AS i) idx),
          stats AS (
            SELECT dim, MIN(v) AS lo, MAX(v) AS hi
            FROM longf GROUP BY dim),
          q AS (
            SELECT l.vec_id, l.dim,
              CASE WHEN hi > lo
                THEN least(CAST(floor((v - lo) * 255.0 / (hi - lo))
                  AS BIGINT), 255)
                ELSE 0 END - 128 AS q_int8
            FROM longf l JOIN stats s ON l.dim = s.dim),
          ql AS (
            SELECT q.dim, q.q_int8, CAST(e.label AS BIGINT) AS label
            FROM q JOIN embeddings e ON q.vec_id = e.vec_id),
          perdim AS (
            SELECT label, dim, CAST(SUM(q_int8) AS BIGINT) AS sq,
              CAST(SUM(q_int8 * q_int8) AS BIGINT) AS q2,
              CAST(COUNT(*) AS BIGINT) AS n
            FROM ql GROUP BY label, dim),
          within AS (
            SELECT label, n,
              SUM(CAST(n AS HUGEINT) * CAST(q2 AS HUGEINT)
                - CAST(sq AS HUGEINT) * CAST(sq AS HUGEINT)) AS w_num
            FROM perdim GROUP BY label, n),
          dist AS (
            SELECT la, lb, CAST(d_num AS DOUBLE)
              / CAST(CAST(na * nb AS HUGEINT)
                * CAST(na * nb AS HUGEINT) AS DOUBLE) AS dist2
            FROM (
              SELECT a.label AS la, b.label AS lb, a.n AS na, b.n AS nb,
                SUM((CAST(a.sq AS HUGEINT) * CAST(b.n AS HUGEINT)
                     - CAST(b.sq AS HUGEINT) * CAST(a.n AS HUGEINT))
                  * (CAST(a.sq AS HUGEINT) * CAST(b.n AS HUGEINT)
                     - CAST(b.sq AS HUGEINT) * CAST(a.n AS HUGEINT)))
                  AS d_num
              FROM perdim a JOIN perdim b
                ON a.dim = b.dim AND a.label <> b.label
              GROUP BY 1, 2, 3, 4) p),
          near AS (
            SELECT la, lb, dist2,
              row_number() OVER (PARTITION BY la ORDER BY dist2, lb)
                AS rn
            FROM dist),
          scored AS (
            SELECT w.label, w.n,
              CAST(w.w_num AS DOUBLE) / CAST(w.n * w.n AS DOUBLE)
                AS intra_ms,
              nr.lb AS nearest_label, nr.dist2 AS nearest_d2
            FROM within w JOIN near nr
              ON nr.la = w.label AND nr.rn = 1)
          SELECT label, n, intra_ms, nearest_label, nearest_d2,
            CASE WHEN intra_ms > 0.0 THEN nearest_d2 / intra_ms
              ELSE 0.0 END AS sep_ratio,
            (nearest_d2 > intra_ms * 4.0) AS separated
          FROM scored ORDER BY label""",
    "emb_quantize" ->
      s"""WITH longf AS (
            SELECT vec_id, idx.i - 1 AS dim,
              CAST(embedding[idx.i] AS DOUBLE) AS v
            FROM embeddings,
              (SELECT unnest(range(1, ${Dims + 1})) AS i) idx),
          stats AS (
            SELECT dim, MIN(v) AS lo, MAX(v) AS hi
            FROM longf GROUP BY dim)
          SELECT vec_id, l.dim,
            CASE WHEN hi > lo
              THEN least(CAST(floor((v - lo) * 255.0 / (hi - lo)) AS BIGINT),
                         255)
              ELSE 0 END - 128 AS q_int8
          FROM longf l JOIN stats s ON l.dim = s.dim
          ORDER BY vec_id, l.dim""",
    // dim-pair covariance: the quantize CTE verbatim, pair products
    // from the same self-join, |cov| ranking on the BIGINT numerator
    "emb_dim_corr" ->
      s"""WITH longf AS (
            SELECT vec_id, idx.i - 1 AS dim,
              CAST(embedding[idx.i] AS DOUBLE) AS v
            FROM embeddings,
              (SELECT unnest(range(1, ${Dims + 1})) AS i) idx),
          stats AS (
            SELECT dim, MIN(v) AS lo, MAX(v) AS hi
            FROM longf GROUP BY dim),
          q AS (
            SELECT vec_id, l.dim,
              CASE WHEN hi > lo
                THEN least(CAST(floor((v - lo) * 255.0 / (hi - lo))
                  AS BIGINT), 255)
                ELSE 0 END - 128 AS q_int8
            FROM longf l JOIN stats s ON l.dim = s.dim),
          nn AS (SELECT CAST(COUNT(*) // ${Dims} AS BIGINT) AS n FROM q),
          sums AS (
            SELECT dim, CAST(SUM(q_int8) AS BIGINT) AS s
            FROM q GROUP BY dim),
          pij AS (
            SELECT a.dim AS di, b.dim AS dj,
              CAST(SUM(a.q_int8 * b.q_int8) AS BIGINT) AS p
            FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.dim < b.dim
            GROUP BY 1, 2)
          SELECT di, dj, nn.n, pij.p,
            sa.s AS si, sb.s AS sj,
            CAST(nn.n * pij.p - sa.s * sb.s AS BIGINT) AS cov_num
          FROM pij
          JOIN sums sa ON sa.dim = pij.di
          JOIN sums sb ON sb.dim = pij.dj
          CROSS JOIN nn
          ORDER BY abs(nn.n * pij.p - sa.s * sb.s) DESC, di, dj
          LIMIT $DimCorrTopK""",
    "emb_dim_variance" ->
      s"""WITH longf AS (
            SELECT vec_id, idx.i - 1 AS dim,
              CAST(embedding[idx.i] AS DOUBLE) AS v
            FROM embeddings,
              (SELECT unnest(range(1, ${Dims + 1})) AS i) idx),
          stats AS (
            SELECT dim, MIN(v) AS lo, MAX(v) AS hi
            FROM longf GROUP BY dim),
          q AS (
            SELECT vec_id, l.dim,
              CASE WHEN hi > lo
                THEN least(CAST(floor((v - lo) * 255.0 / (hi - lo))
                  AS BIGINT), 255)
                ELSE 0 END - 128 AS qv
            FROM longf l JOIN stats s ON l.dim = s.dim)
          SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(qv) AS BIGINT) AS sum_q,
            CAST(SUM(qv * qv) AS BIGINT) AS sum_q2,
            CAST(COUNT(*) * SUM(qv * qv) - SUM(qv) * SUM(qv) AS BIGINT)
              AS var_num,
            CAST(COUNT(*) * SUM(qv * qv) - SUM(qv) * SUM(qv) AS DOUBLE)
              / CAST(COUNT(*) * COUNT(*) AS DOUBLE) AS variance,
            (COUNT(*) * SUM(qv * qv) = SUM(qv) * SUM(qv)) AS dead_dim
          FROM q GROUP BY dim ORDER BY dim""",
    // power iteration as a recursive CTE carrying the scaled vector;
    // the quantized-lane CTEs mirror emb_dim_variance's, and every
    // div is the truncating integer division both engines share
    "emb_principal_dir" ->
      s"""WITH RECURSIVE longf AS (
            SELECT vec_id, idx.i - 1 AS dim,
              CAST(embedding[idx.i] AS DOUBLE) AS v
            FROM embeddings,
              (SELECT unnest(range(1, ${Dims + 1})) AS i) idx),
          stats AS (
            SELECT dim, MIN(v) AS lo, MAX(v) AS hi
            FROM longf GROUP BY dim),
          q0 AS (
            SELECT vec_id, l.dim,
              CASE WHEN hi > lo
                THEN least(CAST(floor((v - lo) * 255.0 / (hi - lo))
                  AS BIGINT), 255)
                ELSE 0 END - 128 AS qv
            FROM longf l JOIN stats s ON l.dim = s.dim),
          mu AS (
            SELECT dim, CAST(SUM(qv) // COUNT(*) AS BIGINT) AS mu
            FROM q0 GROUP BY dim),
          q AS (
            SELECT q0.vec_id, q0.dim, q0.qv - mu.mu AS qv
            FROM q0 JOIN mu ON q0.dim = mu.dim),
          dims AS (SELECT DISTINCT dim FROM q),
          pw(iter, dim, val) AS (
            SELECT 0, dim, CAST($PcaVs AS BIGINT) FROM dims
            UNION ALL
            SELECT iter + 1, dim,
              CAST(CASE WHEN mx > 0
                THEN raw // (mx // $PcaVs + 1)
                ELSE 0 END AS BIGINT)
            FROM (
              SELECT r.iter, r.dim, r.raw,
                MAX(ABS(r.raw)) OVER () AS mx
              FROM (
                SELECT d2.iter, l2.dim, SUM(l2.qv * d2.dot) AS raw
                FROM (
                  SELECT p.iter, l.vec_id, SUM(l.qv * p.val) AS dot
                  FROM pw p JOIN q l ON l.dim = p.dim
                  GROUP BY p.iter, l.vec_id) d2
                JOIN q l2 ON l2.vec_id = d2.vec_id
                GROUP BY d2.iter, l2.dim) r) z
            WHERE iter < $PcaIters)
          SELECT dim, CAST(val AS BIGINT) AS v_scaled,
            CAST(val AS DOUBLE) / CAST($PcaVs AS DOUBLE) AS loading
          FROM pw WHERE iter = $PcaIters ORDER BY dim""",
    "emb_normalize" ->
      s"""WITH n AS (
            SELECT vec_id, embedding,
              sqrt(${sqlDot("embedding", "embedding")}) AS norm
            FROM embeddings)
          SELECT vec_id, idx.i - 1 AS dim,
            CASE WHEN norm > 0
              THEN CAST(embedding[idx.i] AS DOUBLE) / norm
              ELSE 0.0 END AS v_norm
          FROM n, (SELECT unnest(range(1, ${Dims + 1})) AS i) idx
          ORDER BY vec_id, dim""",
    "emb_label_stats" ->
      s"""SELECT CAST(label AS BIGINT) AS label, COUNT(*) AS n,
          CAST(SUM(CAST(sqrt(${sqlDot("embedding", "embedding")})
            AS DECIMAL(18,12))) AS DOUBLE) AS total_norm,
          CAST(SUM(CAST(sqrt(${sqlDot("embedding", "embedding")})
            AS DECIMAL(18,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
            AS avg_norm
          FROM embeddings GROUP BY label ORDER BY label""",
    "emb_pq_encode" ->
      s"""WITH $sqlPqCtes
          SELECT vec_id,
            ${sqlPick(0, "code")} AS c0, ${sqlPick(1, "code")} AS c1,
            ${sqlPick(2, "code")} AS c2, ${sqlPick(3, "code")} AS c3,
            ${sqlPick(0, "dist")} + ${sqlPick(1, "dist")}
              + ${sqlPick(2, "dist")} + ${sqlPick(3, "dist")} AS sq_err
          FROM pqa GROUP BY vec_id ORDER BY vec_id""",
    "emb_pq_distortion" ->
      s"""WITH $sqlPqCtes,
          enc AS (
            SELECT vec_id,
              ${sqlPick(0, "dist")} + ${sqlPick(1, "dist")}
                + ${sqlPick(2, "dist")} + ${sqlPick(3, "dist")}
                AS sq_err
            FROM pqa GROUP BY vec_id)
          SELECT label, rank, vec_id, sq_err FROM (
            SELECT CAST(e2.label AS BIGINT) AS label, enc.vec_id,
              enc.sq_err,
              CAST(ROW_NUMBER() OVER (PARTITION BY e2.label
                ORDER BY enc.sq_err DESC, enc.vec_id) AS BIGINT)
                AS rank
            FROM enc JOIN embeddings e2 ON e2.vec_id = enc.vec_id) z
          WHERE rank <= $DistortionTopK ORDER BY label, rank""",
    "ann_pq_adc" ->
      s"""WITH $sqlPqCtes, $sqlAdcCtes
          SELECT query_id, rank, cand_id, adc FROM (
            SELECT adc.*, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY adc, cand_id) AS rank
            FROM adc) z
          WHERE rank <= $TopK ORDER BY query_id, rank""",
    "ann_pq_recall" ->
      s"""WITH $sqlPqCtes, $sqlAdcCtes,
          approx AS (
            SELECT query_id, cand_id FROM (
              SELECT adc.*, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adc, cand_id) AS rank
              FROM adc) z
            WHERE rank <= $TopK),
          exact AS (
            SELECT query_id, cand_id FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                  ${sqlSqDistFF("c.embedding", "q.embedding")},
                  c.vec_id) AS rank
              FROM embeddings q CROSS JOIN embeddings c
              WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries) z
            WHERE rank <= $TopK)
          SELECT e.query_id, COUNT(p.cand_id) AS n_hits,
            CAST(COUNT(p.cand_id) AS DOUBLE) / CAST($TopK AS DOUBLE)
              AS recall
          FROM exact e
          LEFT JOIN approx p
            ON e.query_id = p.query_id AND e.cand_id = p.cand_id
          GROUP BY e.query_id ORDER BY e.query_id""",
    "ann_pq_rerank" ->
      s"""WITH $sqlPqCtes, $sqlAdcCtes,
          shortlist AS (
            SELECT query_id, cand_id FROM (
              SELECT adc.*, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adc, cand_id) AS srk
              FROM adc) z
            WHERE srk <= $PqShortlist)
          SELECT query_id, rank, cand_id, dist FROM (
            SELECT sl.query_id, sl.cand_id,
              ${sqlSqDistFF("c.embedding", "q.embedding")} AS dist,
              ROW_NUMBER() OVER (PARTITION BY sl.query_id
                ORDER BY ${sqlSqDistFF("c.embedding", "q.embedding")},
                         sl.cand_id) AS rank
            FROM shortlist sl
            JOIN embeddings c ON sl.cand_id = c.vec_id
            JOIN embeddings q ON sl.query_id = q.vec_id) z
          WHERE rank <= $TopK ORDER BY query_id, rank""",
    "ann_ivf_pq" -> sqlIvfPqSearch,
    "ann_ivf_pq_recall" ->
      s"""WITH approx AS (
            SELECT query_id, cand_id FROM ($sqlIvfPqSearch) s),
          exact AS (
            SELECT query_id, cand_id FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                  ${sqlSqDistFF("c.embedding", "q.embedding")},
                  c.vec_id) AS rank
              FROM embeddings q CROSS JOIN embeddings c
              WHERE q.vec_id < $NQueries AND c.vec_id >= $NQueries) z
            WHERE rank <= $TopK)
          SELECT e.query_id, COUNT(p.cand_id) AS n_hits,
            CAST(COUNT(p.cand_id) AS DOUBLE) / CAST($TopK AS DOUBLE)
              AS recall
          FROM exact e
          LEFT JOIN approx p
            ON e.query_id = p.query_id AND e.cand_id = p.cand_id
          GROUP BY e.query_id ORDER BY e.query_id""")

  /** Per-subspace sqdist: same sequential fold as [[sqlSqDist]] but
    * over the [[PqSubDim]]-long slices. */
  private def sqlSubDist(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, ${PqSubDim + 1}),
          i -> (CAST($a[i] AS DOUBLE) - $b[i])
             * (CAST($a[i] AS DOUBLE) - $b[i]))),
        (x, y) -> x + y)"""

  /** Full-dimension sqdist where BOTH sides are float arrays (the
    * exact-L2 brute mirror; [[sqlSqDist]]'s right side is a computed
    * double list). */
  private def sqlSqDistFF(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        list_transform(range(1, ${Dims + 1}),
          i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
             * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
        (x, y) -> x + y)"""

  private def sqlPick(m: Int, c: String): String =
    s"MAX(CASE WHEN sub = $m THEN $c END)"

  /** The PQ CTE chain shared by the three PQ oracles: centroids →
    * per-subspace codebook (cb) → subvectors (sv) → per-(vec, sub)
    * nearest code (pqa). Mirrors [[pqCodebook]]/[[pqAssigned]]. */
  private def sqlPqCtes: String =
    s"""$sqlCentCtes,
        subs AS (SELECT unnest(range(0, $PqSubspaces)) AS m),
        cb AS (
          SELECT cent.clabel AS code, subs.m AS sub,
            list_slice(cent.c, subs.m * $PqSubDim + 1,
              subs.m * $PqSubDim + $PqSubDim) AS cb
          FROM cent, subs),
        sv AS (
          SELECT vec_id, subs.m AS sub,
            list_slice(embedding, subs.m * $PqSubDim + 1,
              subs.m * $PqSubDim + $PqSubDim) AS sv
          FROM embeddings, subs),
        pqa AS (
          SELECT vec_id, sub, code, dist FROM (
            SELECT scored.*,
              ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                ORDER BY dist, code) AS rn
            FROM (
              SELECT sv.vec_id, sv.sub, cb.code,
                ${sqlSubDist("sv.sv", "cb.cb")} AS dist
              FROM sv JOIN cb ON sv.sub = cb.sub) scored) z
          WHERE rn = 1)"""

  /** The composed IVF+PQ search as one statement — Lloyd-trained
    * cells ([[sqlLloydCtes]]) route each query to its
    * [[IvfPqNprobe]] nearest cells, and only those cells' PQ codes
    * are ADC-scored. Mirrors [[annIvfPq]]. */
  private def sqlIvfPqSearch: String = {
    val centK = s"cent$KmeansIters"
    s"""WITH ${sqlLloydCtes.mkString(",\n")},
        ${sqlAssignCte(centK, "af")},
        $sqlPqCtes,
        $sqlLutCte,
        route AS (
          SELECT query_id, clabel FROM (
            SELECT q.vec_id AS query_id, $centK.clabel,
              ROW_NUMBER() OVER (PARTITION BY q.vec_id
                ORDER BY ${sqlSqDist("q.embedding", s"$centK.c")},
                         $centK.clabel) AS crk
            FROM embeddings q CROSS JOIN $centK
            WHERE q.vec_id < $NQueries) z
          WHERE crk <= $IvfPqNprobe),
        cellcand AS (
          SELECT vec_id AS cand_id, clabel FROM af
          WHERE vec_id >= $NQueries),
        adcp AS (
          SELECT query_id, cand_id,
            ${sqlPick(0, "dq")} + ${sqlPick(1, "dq")}
              + ${sqlPick(2, "dq")} + ${sqlPick(3, "dq")} AS adc
          FROM (
            SELECT r.query_id, cc.cand_id, p.sub, lut.dq
            FROM route r
            JOIN cellcand cc ON r.clabel = cc.clabel
            JOIN pqa p ON p.vec_id = cc.cand_id
            JOIN lut ON lut.query_id = r.query_id
              AND lut.sub = p.sub AND lut.code = p.code) j
          GROUP BY query_id, cand_id)
        SELECT query_id, rank, cand_id, adc FROM (
          SELECT adcp.*, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc, cand_id) AS rank
          FROM adcp) z2
        WHERE rank <= $TopK ORDER BY query_id, rank"""
  }

  /** The query LUT CTE (distance of each query subvector to every
    * sub-centroid) — mirrors [[adcLut]]; shared by [[sqlAdcCtes]] and
    * the IVF+PQ oracle. Requires [[sqlPqCtes]]' sv/cb in scope. */
  private def sqlLutCte: String =
    s"""lut AS (
          SELECT sv.vec_id AS query_id, sv.sub, cb.code,
            ${sqlSubDist("sv.sv", "cb.cb")} AS dq
          FROM sv JOIN cb ON sv.sub = cb.sub
          WHERE sv.vec_id < $NQueries)"""

  /** ADC CTEs on top of [[sqlPqCtes]]: query LUT → candidate codes →
    * the fixed-order four-lookup sum. Mirrors [[annPqAdc]]. */
  private def sqlAdcCtes: String =
    s"""$sqlLutCte,
        cands AS (
          SELECT vec_id AS cand_id, sub, code FROM pqa
          WHERE vec_id >= $NQueries),
        adc AS (
          SELECT query_id, cand_id,
            ${sqlPick(0, "dq")} + ${sqlPick(1, "dq")}
              + ${sqlPick(2, "dq")} + ${sqlPick(3, "dq")} AS adc
          FROM (
            SELECT lut.query_id, cands.cand_id, cands.sub, lut.dq
            FROM cands JOIN lut
              ON cands.sub = lut.sub AND cands.code = lut.code) j
          GROUP BY query_id, cand_id)"""

  /** MRR retrieval-evaluation report across four ANN tiers — the
    * eval metric that complements the per-tier recall gates: for
    * each query, the reciprocal rank at which the tier surfaces the
    * brute-force TRUE nearest neighbor (0 when it misses the top-k
    * entirely). Emitted PER QUERY — never an aggregated double mean,
    * whose accumulation order would be engine-internal; each rr is
    * one exact 1.0/rank division, and downstream dashboards average
    * as they like. Reuses each tier's own oracle SQL verbatim, so
    * the metric can never drift from the gated tier semantics. */
  private def sqlAnnMrr: String = {
    val tiers = Seq(
      "ivf" -> oracleBase("ann_ivf"),
      "lsh" -> oracleBase("ann_lsh_probe"),
      "pq_rerank" -> oracleBase("ann_pq_rerank"),
      "proj_rerank" -> oracleBase("ann_proj_rerank"))
    val arms = tiers.map { case (n, sql) =>
      s"""SELECT '$n' AS tier, t.query_id, t.truth_cand,
            CAST(COALESCE(MIN(CASE WHEN r.cand_id = t.truth_cand
              THEN r.rank END), 0) AS BIGINT) AS hit_rank,
            CASE WHEN MIN(CASE WHEN r.cand_id = t.truth_cand
                THEN r.rank END) IS NULL THEN 0.0
              ELSE CAST(1.0 AS DOUBLE)
                / MIN(CASE WHEN r.cand_id = t.truth_cand
                    THEN r.rank END) END AS rr
          FROM (SELECT query_id, cand_id AS truth_cand
                FROM ($sqlKnnBrute) tt WHERE rank = 1) t
          LEFT JOIN ($sql) r ON r.query_id = t.query_id
          GROUP BY t.query_id, t.truth_cand"""
    }
    arms.mkString("SELECT * FROM (", "\n          UNION ALL\n          ",
      ") z ORDER BY tier, query_id")
  }

  /** Induced-footrule oracle — mirrors [[annFootrule]]: per tier, the
    * full-outer join of the brute and tier top-k lists with absent
    * ranks charged k+1, summed per query. Reuses each tier's oracle
    * SQL verbatim (same no-drift property as [[sqlAnnMrr]]). */
  private def sqlAnnFootrule: String = {
    val miss = TopK + 1
    val den = TopK * (TopK + 1)
    val tiers = Seq(
      "ivf" -> oracleBase("ann_ivf"),
      "lsh" -> oracleBase("ann_lsh_probe"),
      "pq_rerank" -> oracleBase("ann_pq_rerank"),
      "proj_rerank" -> oracleBase("ann_proj_rerank"))
    val arms = tiers.map { case (n, sql) =>
      s"""SELECT '$n' AS tier, qid AS query_id,
            CAST(COUNT(CASE WHEN rb <= $TopK AND rt <= $TopK
              THEN 1 END) AS BIGINT) AS n_common,
            CAST(SUM(ABS(rb - rt)) AS BIGINT) AS footrule,
            CAST(SUM(ABS(rb - rt)) AS DOUBLE)
              / CAST($den AS DOUBLE) AS footrule_norm
          FROM (
            SELECT COALESCE(b.query_id, r.query_id) AS qid,
              COALESCE(b.rank, $miss) AS rb,
              COALESCE(r.rank, $miss) AS rt
            FROM ($sqlKnnBrute) b
            FULL OUTER JOIN ($sql) r
              ON b.query_id = r.query_id AND b.cand_id = r.cand_id) j
          GROUP BY qid"""
    }
    arms.mkString("SELECT * FROM (", "\n          UNION ALL\n          ",
      ") z ORDER BY tier, query_id")
  }

  lazy val oracle: Map[String, String] =
    oracleBase + ("ann_mrr" -> sqlAnnMrr) +
      ("ann_footrule" -> sqlAnnFootrule)
}
