package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing._
import graft.functions.UnicodeExprs
import graft.sources.Tables

/** Deduplication operators over `documents` (SURVEY.md §2.8 [EXT]):
  * exact, normalized-exact, MinHash+LSH near-dup candidates with
  * Jaccard verification, and SimHash clustering.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup is one hash-partitioned groupBy on the text (or its
  *    fingerprint) — the canonical map-side-combinable shuffle;
  *  - near-dup avoids O(n²) pairs entirely: signatures are per-row
  *    projections, LSH bands turn "similar" into "equal bucket", the
  *    self-join runs per-bucket, and only LSH candidates get the
  *    (explode-join) Jaccard verification. With b bands of r rows the
  *    collision probability is 1-(1-s^r)^b — the 4×4 layout has its
  *    S-curve threshold near s≈0.55;
  *  - at real scale you'd salt a pathological bucket; bucket sizes are
  *    observable via `dedup_simhash_clusters`-style queries.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables.documents(s, d)

  /** One materialized (band, bucket) relation per (context, dataset,
    * documents.parquet mtime) — the LSH index. Round 1 rebuilt the
    * whole signature pipeline on every reference (4-way band union ×
    * both self-join sides ≈ 8 recomputes, 83% of the bench); now it's
    * computed once, cut, and shared by every query that consumes
    * candidate pairs. The source file's modification time is part of
    * the key, so an in-place overwrite of documents.parquet
    * transparently rebuilds instead of mixing a stale index with fresh
    * verification scans — and the superseded relation is evicted on
    * the same call ([[IndexCache.getOrBuild]]). */
  private val bucketCache = new IndexCache("documents")

  private[graft] def cacheKeys = bucketCache.keys

  /** One materialized (doc_id, comp) labeling per (context, dataset,
    * mtime) — shared by `dedup_components` and `dedup_split_assign`
    * so the label-propagation loop runs once per dataset. */
  private val componentCache = new IndexCache("documents")

  /** Exact dedup: canonical (min) doc per identical text. */
  val dedupExact: Q = (s, d) =>
    docs(s, d)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy("canonical_id")

  /** Exact dedup after normalization (lower, trim, collapse spaces) —
    * groups differently-formatted copies of the same content. */
  val dedupNormalized: Q = (s, d) =>
    docs(s, d)
      .groupBy(regexp_replace(trim(lower(col("text"))), " +", " ").as("norm"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))
      .orderBy("canonical_id")

  /** Unicode-canonical dedup: duplicate classes keyed on NFC(text)
    * ([[graft.functions.NfcNormalize]], codegen'd — no UDF), catching
    * the copies byte-equality misses because one of them arrived in
    * decomposed form (macOS filesystems, OCR stacks). `n_byte_forms`
    * counts the distinct raw encodings inside each class — >1 is
    * exactly the dup mass [[dedupExact]] cannot see. Same combinable
    * one-groupBy shape as [[dedupNormalized]]; the oracle mirrors via
    * DuckDB's `nfc_normalize` (both sides Unicode-conformant NFC). */
  val dedupUnicode: Q = (s, d) =>
    docs(s, d)
      .groupBy(UnicodeExprs.nfcNormalize(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_copies"),
        count_distinct(col("text")).as("n_byte_forms"))
      .select(col("canonical_id"), col("n_copies"), col("n_byte_forms"))
      .orderBy("canonical_id")

  /** doc_id + MinHash signature columns mh0..mh{K-1} over 3-word
    * shingles (docs with <3 tokens get no signature and are dropped —
    * nothing to near-dup match on). All K lanes come from ONE
    * codegen'd pass over the shingle hashes ([[graft.functions.MinHashSig]]). */
  private def signatures(s: SparkSession, d: String): DataFrame =
    signaturesOf(docs(s, d))

  /** [[signatures]] over ANY (doc_id, text) relation — every step is
    * a stateless per-row expression, so this also runs unchanged
    * inside a streaming query ([[StreamOps]]'s ingest gate). */
  private def signaturesOf(df: DataFrame): DataFrame = {
    val sig = df
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .withColumn("shingle_hashes", hashAll(shingles(col("toks"))))
      .withColumn("sig", minhashSig(col("shingle_hashes")))
    sig.select(
      col("doc_id") +: (0 until K).map(i => col("sig").getItem(i).as(s"mh$i")): _*)
  }

  /** The stateless (doc_id, band, bucket) projection — the per-row
    * part of [[buckets]], without the persist. Streaming-safe. */
  private[graft] def bucketRows(df: DataFrame): DataFrame =
    signaturesOf(df)
      .select(col("doc_id"),
        posexplode(array((0 until Bands).map(bandBucket): _*))
          .as(Seq("band", "bucket")))
      .select(col("doc_id"), col("band").cast("long").as("band"),
        col("bucket"))

  /** SQL CTE mirroring [[signatures]]. */
  /** [[sqlSignatures]] over an arbitrary (doc_id, text) source
    * relation, emitted under `name` — the delta probe mirrors the
    * signature pipeline over a DERIVED batch, not just `documents`. */
  private def sqlSignaturesAs(name: String, src: String): String = {
    val sh = sqlHashAll(sqlShingles("toks"))
    val sigs = (0 until K)
      .map(i => s"${sqlMinhash("shingle_hashes", i)} AS mh$i").mkString(", ")
    s"""$name AS (
         SELECT doc_id, $sigs FROM (
           SELECT doc_id, $sh AS shingle_hashes FROM (
             SELECT doc_id, ${sqlTokens("text")} AS toks FROM $src)
           WHERE length(toks) >= 3))"""
  }

  private def sqlSignatures: String = sqlSignaturesAs("sig", "documents")

  /** The MinHash signature surface itself (oracle-pins the hashing). */
  val dedupMinhashSig: Q = (s, d) =>
    signatures(s, d).orderBy("doc_id")

  /** (band, bucket, doc_id) rows — K/RowsPerBand buckets per doc, in
    * ONE pass: the band buckets are emitted as an array and
    * posexploded (band = position), instead of round 1's Bands-way
    * union that re-ran the signature pipeline per band. The relation
    * is cut (materialized eagerly) so the pair self-join scans the
    * leaf on both sides rather than recomputing. */
  private def buckets(s: SparkSession, d: String): DataFrame =
    bucketCache.getOrBuild(s, d) {
      bucketRows(docs(s, d)).transform(graft.Checkpointing.cut)
    }

  private def sqlBucketsAs(name: String, sigName: String): String =
    (0 until Bands).map(b =>
      s"""SELECT doc_id, CAST($b AS BIGINT) AS band,
          ${sqlBandBucket(b)} AS bucket FROM $sigName""")
      .mkString(s"$name AS (", " UNION ALL ", ")")

  private def sqlBuckets: String = sqlBucketsAs("buckets", "sig")

  /** Oracle mirror of [[lshCandidatePairs]]: candidate pairs with
    * over-cap ([[MaxBucketOcc]]) cells excluded. Emits the `hotcells`
    * and `pairs` CTE pair; prepend after a `buckets` CTE. */
  private def sqlCandPairs: String =
    s"""hotcells AS (
            SELECT band, bucket FROM buckets
            GROUP BY band, bucket HAVING COUNT(*) > $MaxBucketOcc),
          pairs AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM buckets x JOIN buckets y
              ON x.band = y.band AND x.bucket = y.bucket
                 AND x.doc_id < y.doc_id
            WHERE NOT EXISTS (SELECT 1 FROM hotcells h
              WHERE h.band = x.band AND h.bucket = x.bucket))"""

  /** Bucket-occupancy cap for the PAIR-EMITTING verification tier:
    * a (band, bucket) cell with more than this many members emits no
    * candidate pairs. An over-cap cell is a degenerate template/mirror
    * cluster — the skew probe measured the cost of letting it through
    * (`dedup_jaccard` 5.2 → 89.8 s, 17×, when 2% of a 50k corpus
    * collapses into one cluster; super-quadratic in cluster size) —
    * and pairwise verification is the wrong tool for it anyway: its
    * members are near-identical by construction, which the O(n)
    * exact/normalized tier and the STAR-shaped `dedup_components`
    * (bipartite min-label, unaffected by the cap, measured 1.48×
    * under the same skew) already handle. `dedup_bucket_histogram` is
    * the monitor that surfaces over-cap cells; a pair is still
    * emitted if it co-occurs in ANY under-cap cell of another band.
    * Far above anything honest data produces (max uniform occupancy
    * at sf0.1 is 4) — the gated corpora are unaffected; the oracles
    * mirror the cap so the semantics are pinned, not incidental. */
  val MaxBucketOcc = 64

  /** The over-cap cell list, materialized once per (context, dir,
    * mtime) — seven pair consumers share it, and it is almost always
    * empty (a handful of rows under adversarial skew), so the
    * checkpoint is a few ints. */
  private val hotCellCache = new IndexCache("documents")

  private[graft] def hotCells(s: SparkSession, d: String): DataFrame =
    hotCellCache.getOrBuild(s, d) {
      buckets(s, d)
        .groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("occ"))
        .filter(col("occ") > MaxBucketOcc)
        .select(col("band"), col("bucket"))
        .transform(graft.Checkpointing.cut)
    }

  /** The shared candidate-pair generator every pairwise verifier
    * consumes: same band bucket, a < b, distinct, over-cap cells
    * excluded ([[MaxBucketOcc]]). The hot-cell list is almost always
    * empty/tiny, so the exclusion is a broadcast anti-join — the only
    * added cost is one integer-only count over the persisted index,
    * itself cached ([[hotCells]]). */
  private[graft] def lshCandidatePairs(s: SparkSession, d: String)
      : DataFrame = {
    val bk = buckets(s, d)
    val x = bk.join(broadcast(hotCells(s, d)), Seq("band", "bucket"),
      "left_anti")
    // capping one side suffices: the equi-join keeps pairs within a
    // cell, and x carries no rows of any over-cap cell
    x.as("x").join(bk.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** LSH candidate pairs: same band bucket, a < b, distinct,
    * [[MaxBucketOcc]]-capped cells. */
  val dedupLshPairs: Q = (s, d) =>
    lshCandidatePairs(s, d)
      .orderBy("doc_a", "doc_b")

  /** The UNPRUNED exact shingle-Jaccard scorer over every LSH
    * candidate pair. This is the nested verifier the CALIBRATION
    * reports consume ([[dedupLshPrecision]], [[dedupMinhashEst]],
    * [[dedupBbitMinhash]], [[dedupComponentProfile]]): each of those
    * is a statement about the FULL candidate distribution (precision
    * of the LSH geometry, estimator error across the similarity
    * range, per-cluster edge extremes), so the size-ratio prune the
    * registered verify tier runs ([[dedupJaccard]]) would change
    * what they measure, not just what they cost. Plumbing is shared
    * with the registered tier ([[jaccardScored]]) — both are
    * cost∝candidates, they differ ONLY in the feasibility filter. */
  private[graft] def jaccardScoredAll(s: SparkSession, d: String)
      : DataFrame = jaccardScored(s, d, prune = false)

  /** Shared exact shingle-Jaccard verifier over the LSH candidate
    * pairs — set-intersection as a token equi-join, never
    * materializing per-pair set products. Shingles are computed only
    * for docs that are IN some candidate pair (the [[dedupCharNgram]]
    * members semi-join — the corpus-wide explode was the verifier
    * family's real 10×-rows cost) and the shingle relation is
    * lineage-cut once and reused by the size and intersection
    * subtrees — one tokenize+shingle pass instead of three. With
    * `prune` the [[jaccardFeasible]] size-ratio bound elides
    * provably-sub-[[JaccardFloor]] pairs before the intersection
    * join. */
  private def jaccardScored(s: SparkSession, d: String,
      prune: Boolean): DataFrame = {
    val pairs = lshCandidatePairs(s, d)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sh = docs(s, d)
      .join(broadcast(members), Seq("doc_id"), "left_semi")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks")))).as("sh"))
      .transform(graft.Checkpointing.cut)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val sized = pairs
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        col("za.n").as("na"), col("zb.n").as("nb"))
    val scored = if (prune) sized.filter(jaccardFeasible(col("na"), col("nb")))
      else sized
    val inter = scored.select(col("doc_a"), col("doc_b"))
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    scored
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double") /
          (col("na") + col("nb") - col("n_inter")).cast("double"))
          .as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Working-threshold FLOOR for the registered Jaccard verify tier:
    * [[SweepThresholds]].head — the bottom of the calibration grid,
    * i.e. the lowest similarity any downstream dedup policy sweeps.
    * The prune bound is stated against this floor, so the two are
    * frozen together. */
  lazy val JaccardFloor: Double = SweepThresholds.head

  /** EXACT size-ratio prune for the Jaccard verify tier (round 15,
    * the [[jwFeasible]] discipline on set sizes): for distinct-shingle
    * sets with |A| ≤ |B|, the intersection is at most |A| and the
    * union at least |B|, so J = |A∩B|/|A∪B| ≤ |A|/|B|. A pair with
    * 2·|A| < |B| therefore has J < 0.5 = [[JaccardFloor]] — provably
    * below every threshold the calibration grid sweeps, BEFORE the
    * explode-join intersection runs; a pair at exactly 2·|A| = |B|
    * can still land on the floor (A ⊆ B gives J = |A|/|B| = 1/2
    * exactly) and is kept. One integer comparison per pair against
    * set sizes the verify tier already materializes — the
    * intersection equi-join, the verifier's whole cost, then runs
    * only on feasible pairs. Mirrored verbatim in the oracle;
    * JaccardPruneSpec pins a planted hopeless pair, a kept pair at
    * the exact bound scoring 0.5 on the nose, and a fuzz of the
    * bound. */
  private[graft] def jaccardFeasible(na: Column, nb: Column): Column =
    least(na, nb) * lit(2L) >= greatest(na, nb)

  /** The SQL mirror of [[jaccardFeasible]]. */
  private def sqlJaccardFeasible(na: String, nb: String): String =
    s"2 * least($na, $nb) >= greatest($na, $nb)"

  /** LSH candidates verified with exact shingle-set Jaccard
    * (`dedup_jaccard`) — the REGISTERED verify tier:
    * [[jaccardScored]] with the [[jaccardFeasible]] size-ratio prune
    * on, eliding pairs provably below [[JaccardFloor]] before the
    * intersection join (the calibration reports that need the full
    * candidate distribution consume [[jaccardScoredAll]] instead —
    * same plumbing, prune off). */
  val dedupJaccard: Q = (s, d) => jaccardScored(s, d, prune = true)

  /** Rarity cap for [[dedupWeightedJaccard]]: a shingle with corpus
    * df ≥ this weighs 0 (boilerplate), df = 1 weighs Cap−1. Fixed
    * forever. */
  val WeightDfCap = 5L

  /** Rarity-weighted Jaccard (`dedup_weighted_jaccard`): the plain
    * candidate-pair Jaccard next to a BOILERPLATE-DISCOUNTED variant
    * where each distinct shingle weighs max(0, [[WeightDfCap]] − df)
    * — common shingles (site chrome, license headers, templates)
    * contribute nothing, so a pair that is "similar" only through
    * shared boilerplate collapses toward 0 while a true near-dup of
    * distinctive content stays high. The gap between the two columns
    * IS the routing signal (high plain + low weighted = strip
    * boilerplate and re-verify, don't dedup). Integer weights keep
    * both numerators/denominators exact; weighted Jaccard is one
    * guarded division (an all-boilerplate union reads 0.0, mirrored).
    * Same explode-join shape as the plain verifier plus one df
    * groupBy — cost ∝ candidate pairs, never all-pairs. The df
    * relation is NECESSARILY corpus-wide (rarity is a corpus
    * property), but the weighted per-doc rows the pair join consumes
    * are member-only (round 15: the [[jaccardScored]] semi-join —
    * the second cut materializes candidates' shingles, not the
    * corpus). */
  val dedupWeightedJaccard: Q = (s, d) => {
    val pairs = lshCandidatePairs(s, d)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val wsh0 = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks")))).as("sh"))
      .transform(graft.Checkpointing.cut)
    val wsh = wsh0
      .join(broadcast(members), Seq("doc_id"), "left_semi")
      .join(wsh0.groupBy("sh").agg(count(lit(1)).as("df")), "sh")
      .select(col("doc_id"), col("sh"),
        greatest(lit(0L), lit(WeightDfCap) - col("df")).as("w"))
      .transform(graft.Checkpointing.cut)
    val sums = wsh.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), sum(col("w")).as("wsum"))
    val a = wsh.select(col("doc_id").as("doc_a"), col("sh"),
      col("w").as("wa"))
    val b = wsh.select(col("doc_id").as("doc_b"), col("sh"),
      col("w").as("wb"))
    val inter = pairs
      .join(a, Seq("doc_a"))
      .join(b, Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"), sum(col("wa")).as("w_inter"))
    val unionW = col("za.wsum") + col("zb.wsum") - col("w_inter")
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter", "w_inter"))
      .join(sums.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sums.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter").cast("double") /
          (col("za.n") + col("zb.n") - col("n_inter")).cast("double"))
          .as("jaccard"),
        col("w_inter"), unionW.as("w_union"),
        when(unionW === 0L, 0.0)
          .otherwise(col("w_inter").cast("double") /
            unionW.cast("double")).as("jaccard_weighted"))
      .orderBy("doc_a", "doc_b")
  }

  /** Verify-threshold sweep grid for [[dedupLshPrecision]] — fixed so
    * the oracle string and spec mirror the same grid. */
  val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** LSH-candidate precision sweep: for each verify threshold t, the
    * fraction of LSH candidate pairs whose EXACT shingle Jaccard
    * clears t — the calibration report that sets the band/row
    * geometry and the verify cutoff before a corpus-wide dedup run
    * (low precision at the working threshold means the bands are too
    * permissive and the verify stage is paying for junk candidates).
    * Cost ∝ candidate pairs × |thresholds| (a 5-element literal array
    * exploded per pair — never all-pairs); reuses the UNPRUNED
    * [[jaccardScoredAll]] verifier — precision is a statement about
    * ALL candidates, so the registered tier's size-ratio prune would
    * change what this measures. Thresholds compare as
    * DOUBLE on both engines (the oracle casts its grid) so a Jaccard
    * landing exactly on a grid point decides identically. */
  val dedupLshPrecision: Q = (s, d) =>
    jaccardScoredAll(s, d)
      .select(col("jaccard"),
        explode(array(SweepThresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_true"),
        (sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("precision"))
      .orderBy("threshold")

  /** Character-level n-gram Jaccard over the LSH candidate pairs —
    * the typo-tier verifier: word shingles miss near-dups that differ
    * by in-word edits (OCR noise, stemming, hyphenation), char
    * 5-grams catch them. Grams are substring windows (codegen'd
    * `substring`, no custom expression needed), hashed per doc to
    * 64-bit so the explode-join shuffles hashes, never text; same
    * intersection-as-equi-join shape as [[dedupJaccard]] — only LSH
    * candidates are ever compared. */
  val dedupCharNgram: Q = (s, d) => {
    val N = 5
    val pairs = lshCandidatePairs(s, d)
    // grams only for docs that are IN some candidate pair — gram cost
    // ∝ candidates, not corpus (char 5-grams are ~6× denser than word
    // shingles, so computing them corpus-wide tripled this query's
    // bench time before this semi-join)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val grams = docs(s, d)
      .join(broadcast(members), Seq("doc_id"), "left_semi")
      .filter(length(col("text")) >= N)
      .select(col("doc_id"),
        explode(array_distinct(
          graft.functions.Hashing.charNgramHashes(col("text"), N)))
          .as("gh"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(grams.as("ga"), col("doc_a") === col("ga.doc_id"))
      .join(grams.as("gb"),
        col("doc_b") === col("gb.doc_id") && col("ga.gh") === col("gb.gh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.as("ca"), col("doc_a") === col("ca.doc_id"))
      .join(sizes.as("cb"), col("doc_b") === col("cb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("ca.n") + col("cb.n") - col("n_inter")).as("n_union"),
        (col("n_inter").cast("double") /
          (col("ca.n") + col("cb.n") - col("n_inter")).cast("double"))
          .as("char_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash estimator calibration: per LSH candidate pair, the
    * signature's Jaccard ESTIMATE (fraction of the K lanes that
    * agree — each lane matches with probability = true Jaccard) next
    * to the exact shingle Jaccard, with the absolute error. This is
    * the report that decides whether K=[[graft.functions.Hashing.K]]
    * lanes is enough resolution at the pipeline's similarity
    * threshold before scaling the signature up (2× lanes = 2× signature
    * shuffle bytes corpus-wide). Estimate arithmetic is exact: the
    * lane-match count is an integer and /16 is a power-of-two
    * division. Cost ∝ candidate pairs (signatures equi-joined by
    * doc), never all pairs. */
  val dedupMinhashEst: Q = (s, d) => {
    val sig = signatures(s, d)
    def matches: Column = (0 until K).map(i =>
      when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    jaccardScoredAll(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        matches.as("n_match_lanes"),
        (matches.cast("double") / lit(K.toDouble)).as("est_jaccard"),
        col("jaccard"),
        abs(matches.cast("double") / lit(K.toDouble) - col("jaccard"))
          .as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Bits kept per lane by the b-bit estimator. Fixed forever. */
  val BbitBits = 4

  /** b-bit minhash calibration (Li & König 2010,
    * `dedup_bbit_minhash`): per LSH candidate pair, the Jaccard
    * estimate from only the LOWEST [[BbitBits]] bits of each lane —
    * Ĵ = (ĉ − 2⁻ᵇ)/(1 − 2⁻ᵇ), where ĉ is the b-bit lane-collision
    * fraction and 2⁻ᵇ the accidental-collision floor — next to the
    * exact shingle Jaccard. At corpus scale the signature relation is
    * the dominant dedup shuffle; b=4 stores 4 bits/lane instead of a
    * 64-bit word (16× smaller signatures) and this report prices the
    * accuracy cost of that compression at the pipeline's threshold
    * before committing to it. Constants 2⁻⁴ = 0.0625 and 0.9375 are
    * exact binary doubles, the estimator two subtractions + one
    * division — engine-parity safe. Cost ∝ candidate pairs. */
  val dedupBbitMinhash: Q = (s, d) => {
    val sig = signatures(s, d)
    val mod = 1L << BbitBits
    def matchesB: Column = (0 until K).map(i =>
      when(col(s"sa.mh$i") % mod === col(s"sb.mh$i") % mod, 1L)
        .otherwise(0L))
      .reduce(_ + _)
    val cFrac = matchesB.cast("double") / lit(K.toDouble)
    val r = lit(1.0 / mod)
    def est = (cFrac - r) / (lit(1.0) - r)
    jaccardScoredAll(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        matchesB.as("n_match_bbit"),
        est.as("est_bbit"),
        col("jaccard"),
        abs(est - col("jaccard")).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-side length ceiling for the QUADRATIC edit-distance tier:
    * a pair where either text exceeds this many characters is
    * excluded from [[dedupEditDistance]] (mirrored in its oracle).
    * The full DP is O(len_a·len_b) per pair — one planted multi-MB
    * near-dup pair would stall its task for hours (10⁶² ≈ 10¹² DP
    * cells) while every other task finishes; at 16 KiB the worst
    * pair is ~2.7·10⁸ cells, bounded task time. The banded tier
    * ([[dedupEditBanded]], O(len·k)) and the shingle-Jaccard tier
    * remain the verifiers for over-ceiling docs — this guard drops
    * no near-dup from the PIPELINE, only from the quadratic
    * calibration report. */
  val EditMaxLen = 16384

  /** LSH candidates verified by EDIT DISTANCE instead of shingle
    * Jaccard — the character-level near-dup verifier (catches small
    * in-word edits that word shingles miss). Levenshtein is exact
    * integer DP on both engines; the normalized similarity is one
    * exact division. Cost is O(|pair| · len²) on LSH candidates only —
    * never all pairs — and only on pairs within the [[EditMaxLen]]
    * per-side ceiling (the len² guard; EditGuardSpec pins it). */
  val dedupEditDistance: Q = (s, d) => {
    val pairs = lshCandidatePairs(s, d)
    val txt = docs(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) <= EditMaxLen)
    pairs
      .join(txt.as("da"), col("doc_a") === col("da.doc_id"))
      .join(txt.as("db"), col("doc_b") === col("db.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.EditExprs
          .levenshteinDistance(col("da.text"), col("db.text"))
          .as("edit_dist"),
        greatest(length(col("da.text")), length(col("db.text")))
          .cast("long").as("max_len"))
      .withColumn("sim",
        lit(1.0) - col("edit_dist").cast("double")
          / col("max_len").cast("double"))
      .orderBy("doc_a", "doc_b")
  }

  /** Transposition-aware verification (`dedup_damerau`) — the
    * Levenshtein tier re-scored with the unrestricted
    * Damerau–Levenshtein ([[graft.functions.EditExprs]], a codegen'd
    * custom expression; Spark has no built-in): a swapped adjacent
    * pair costs ONE edit instead of two, so typo twins and
    * column-swapping OCR duplicates — the two commonest real dup
    * generators plain edit distance over-prices — verify at their
    * true distance. The `transposition_gain` column
    * (levenshtein − damerau ≥ 0, spec-pinned invariant) is the
    * router: a pair whose distance collapses under DL is a
    * swap-heavy duplicate, not a rewrite. Same LSH candidates, same
    * [[EditMaxLen]] length gate, same O(len²) per-pair bound as the
    * exact tier. */
  val dedupDamerau: Q = (s, d) => {
    val pairs = lshCandidatePairs(s, d)
    val txt = docs(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) <= EditMaxLen)
    pairs
      .join(txt.as("da"), col("doc_a") === col("da.doc_id"))
      .join(txt.as("db"), col("doc_b") === col("db.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.EditExprs
          .damerauLevenshtein(col("da.text"), col("db.text"))
          .as("dl_dist"),
        graft.functions.EditExprs
          .levenshteinDistance(col("da.text"), col("db.text"))
          .as("lev_dist"),
        greatest(length(col("da.text")), length(col("db.text")))
          .cast("long").as("max_len"))
      .select(col("doc_a"), col("doc_b"), col("dl_dist"),
        col("lev_dist"),
        (col("lev_dist") - col("dl_dist")).as("transposition_gain"),
        (lit(1.0) - col("dl_dist").cast("double") /
          col("max_len").cast("double")).as("sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** Jaro–Winkler verification (`dedup_jaro_winkler`) — the
    * record-linkage similarity tier: where edit distance charges an
    * out-of-position match its full movement cost, Jaro scores
    * windowed out-of-order matches directly and Winkler's prefix
    * boost rewards the shared-head shape of real entity duplicates
    * (names, titles, URLs). Both scores come from the codegen'd
    * [[graft.functions.EditExprs.jaro]] kernel — a custom Catalyst
    * expression (brief preference (b)), NOT a UDF — whose byte-walk
    * convention is fuzz-pinned bit-for-bit against DuckDB's
    * `jaro_winkler_similarity` on 30k random multibyte pairs, so the
    * oracle's builtin IS the engine's function. The tier CASE routes:
    * ≥0.9 duplicate, ≥0.8 near, else far (Winkler's own thresholds).
    * Same LSH candidates, same [[EditMaxLen]] gate as the edit tiers
    * — cost is O(len·window) per pair, candidates only, never
    * all-pairs. */
  val dedupJaroWinkler: Q = (s, d) => {
    val pairs = lshCandidatePairs(s, d)
    val txt = docs(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) <= EditMaxLen)
    pairs
      .join(txt.as("ja"), col("doc_a") === col("ja.doc_id"))
      .join(txt.as("jb"), col("doc_b") === col("jb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.EditExprs
          .jaroSimilarity(col("ja.text"), col("jb.text")).as("jaro"),
        graft.functions.EditExprs
          .jaroWinklerSimilarity(col("ja.text"), col("jb.text")).as("jw"))
      .withColumn("tier",
        when(col("jw") >= 0.9, "dup")
          .when(col("jw") >= 0.8, "near")
          .otherwise("far"))
      .orderBy("doc_a", "doc_b")
  }

  /** Sorted-neighborhood window: each doc pairs with this many
    * successors in the sort-key order. */
  val SnWindow = 3
  /** Sort-key length for [[dedupSortedNeighborhood]]. */
  val SnKeyLen = 12

  /** Shard-defining key-prefix length for the range-partitioned SN
    * execution: a prefix of the sort key is a deterministic,
    * data-independent range partitioning (every distinct prefix is a
    * contiguous skey range). 2 alphanumeric chars → up to 36²+1
    * shards. At 100 TB the same plan runs over
    * `repartitionByRange` splits instead of literal prefixes; the
    * prefix form keeps the decomposition proof oracle-checkable. */
  val SnShardPrefix = 2
  // the boundary-window faithfulness proof in snPairsShardedBy
  // requires the shard prefix to be a PROPER prefix of the sort key
  // (equal lengths would make every shard a single-key run whose
  // within-shard order no longer refines the global (skey, doc_id)
  // order across equal keys split by the edge slice) — pin it so a
  // constant tweak can't silently invalidate the decomposition
  require(SnShardPrefix < SnKeyLen,
    s"SnShardPrefix ($SnShardPrefix) must be < SnKeyLen ($SnKeyLen)")

  /** The HEAD sort key: first [[SnKeyLen]] normalized alphanumerics
    * — stable-head/edited-tail recall. */
  private def snHeadKey: Column =
    substring(lower(regexp_replace(col("text"), "[^a-zA-Z0-9]", "")),
      1, SnKeyLen)

  /** The TAIL sort key: first [[SnKeyLen]] chars of the REVERSED
    * normalized text — the multi-pass complement (Hernández–Stolfo
    * run SN over SEVERAL independent keys precisely because one key
    * is blind to edits inside its own prefix): an edited-head/
    * stable-tail twin sorts far apart under the head key but adjacent
    * under this one. The normalization strips to ASCII alphanumerics
    * BEFORE reversing, so both engines reverse the same byte-per-char
    * string (no multibyte reversal convention to pin). */
  private def snTailKey: Column =
    substring(reverse(lower(regexp_replace(col("text"), "[^a-zA-Z0-9]", ""))),
      1, SnKeyLen)

  /** The verifier-eligible (doc_id, skey) relation under an
    * arbitrary sort key. */
  private def snKeyedBy(s: SparkSession, d: String, key: Column): DataFrame =
    docs(s, d)
      .filter(length(col("text")) <= EditMaxLen)
      .select(col("doc_id"), key.as("skey"))

  /** The verifier-eligible (doc_id, skey) relation both SN pair
    * generators sort (head-key pass). */
  private def snKeyed(s: SparkSession, d: String): DataFrame =
    snKeyedBy(s, d, snHeadKey)

  /** lead()-successor pairs of `keyed` (must carry doc_id, skey,
    * shard) under window spec `w`, emitting both endpoints' shards —
    * shared by the global, within-shard and boundary sweeps so the
    * pairing arithmetic cannot drift between them. */
  private def snLeadPairs(keyed: DataFrame,
      w: org.apache.spark.sql.expressions.WindowSpec): DataFrame = {
    val leadCols = (1 to SnWindow).flatMap(k => Seq(
      lead(col("doc_id"), k).over(w).as(s"n$k"),
      lead(col("shard"), k).over(w).as(s"s$k")))
    keyed.select(col("doc_id") +: col("shard") +: leadCols: _*)
      .select(col("doc_id").as("doc_a"), col("shard").as("a_shard"),
        explode(array((1 to SnWindow).map(k => struct(
          col(s"n$k").as("doc_b"), col(s"s$k").as("b_shard"))): _*))
          .as("nb"))
      .select(col("doc_a"), col("a_shard"),
        col("nb.doc_b").as("doc_b"), col("nb.b_shard").as("b_shard"))
      .filter(col("doc_b").isNotNull)
  }

  /** GLOBAL-window SN candidate pairs — the audit tier: one
    * unpartitioned sort over the eligible slice, the textbook
    * Hernández–Stolfo form and the semantics spec the sharded
    * execution must equal. */
  private[graft] def snPairsGlobal(s: SparkSession, d: String): DataFrame =
    snLeadPairs(snKeyed(s, d).withColumn("shard", lit("")),
      Window.orderBy(col("skey"), col("doc_id")))
      .select("doc_a", "doc_b")

  /** RANGE-SHARDED SN candidate pairs — the production execution of
    * the documented "range-partition by key prefix with w-row
    * overlap" plan (Hernández–Stolfo sharding):
    *
    *   1. WITHIN-SHARD: rows shard by the [[SnShardPrefix]]-char key
    *      prefix (a contiguous skey range, so within-shard order is
    *      the global order restricted to it) and an ordinary
    *      shard-PARTITIONED window generates each row's ≤ w in-shard
    *      successor pairs in parallel;
    *   2. BOUNDARY: only the first w and last w rows of every shard
    *      (O(2w·shards) rows total) enter one tiny global window;
    *      its cross-shard pairs are exactly the pairs the partitioned
    *      window cannot see. Same-shard pairs from the tiny window
    *      are discarded as duplicates of (1).
    *
    * Why the tiny window is faithful: a row needing a cross-shard
    * successor is within w rows of its shard's end (→ in the tail
    * slice), the rows between it and any successor ≤ w ahead are
    * later tail rows of its own shard and head rows of the following
    * shard(s) — all present in the boundary relation (a shard with
    * < w rows contributes ALL its rows) — so lead-k distances in the
    * tiny window equal global lead-k distances for every emitted
    * cross-shard pair. Rows deeper than w from their shard's end
    * never reach across (their w successors are in-shard), and the
    * only tiny-window adjacencies that skip missing rows (a big
    * shard's interior) are same-shard, hence discarded. Equality
    * with [[snPairsGlobal]] is oracle-gated (the registered query
    * runs THIS plan against the global-window SQL) and spec-pinned on
    * a planted boundary-crossing near-dup pair. */
  private[graft] def snPairsSharded(s: SparkSession, d: String): DataFrame =
    snPairsShardedBy(s, d, snHeadKey)

  /** [[snPairsSharded]] under an arbitrary sort key — the multi-pass
    * seam ([[dedupSnMultipass]] runs it once per key). */
  private[graft] def snPairsShardedBy(s: SparkSession, d: String,
      key: Column): DataFrame = {
    val keyed = snKeyedBy(s, d, key)
      .withColumn("shard", substring(col("skey"), 1, SnShardPrefix))
    val wIn = Window.partitionBy(col("shard"))
      .orderBy(col("skey"), col("doc_id"))
    val within = snLeadPairs(keyed, wIn).select("doc_a", "doc_b")
    // head slice: rn_a <= w; tail slice: rn_a > n_shard - w (i.e. the
    // position-from-the-end rank w+1..n). The per-shard count shares
    // the ascending window's partitioning AND sort, so the edge
    // relation costs ONE exchange + ONE sort — not a second
    // opposite-order sort of the whole relation per pass
    val rnA = row_number().over(Window.partitionBy(col("shard"))
      .orderBy(col("skey").asc, col("doc_id").asc))
    val nShard = count(lit(1)).over(Window.partitionBy(col("shard")))
    val edge = keyed
      .withColumn("rn_a", rnA).withColumn("n_shard", nShard)
      .filter(col("rn_a") <= SnWindow ||
        col("rn_a") > col("n_shard") - SnWindow)
      .select("doc_id", "skey", "shard")
    val cross = snLeadPairs(edge,
      Window.orderBy(col("skey"), col("doc_id")))
      .filter(col("b_shard") =!= col("a_shard")) // cross-shard only
      .select("doc_a", "doc_b")
    within.unionAll(cross)
  }

  /** EXACT length-ratio prune for the Jaro–Winkler verify tier
    * (round 14). The kernel walks UTF-8 bytes, so with byte lengths
    * la ≤ lb: matches m ≤ la gives jaro = (m/la + m/lb + (m−t)/m)/3
    * ≤ (1 + la/lb + 1)/3, and the Winkler boost is capped at
    * 4·0.1·(1−jaro), so jw ≤ 0.6·jaro + 0.4 ≤ 0.8 + 0.2·(la/lb).
    * A pair with 2·la < lb therefore has jw < 0.9 — provably below
    * the dup bar before running the O(la·lb) kernel; a pair at
    * exactly 2·la = lb can still score 0.9 (a 4-byte-prefix-sharing
    * ordered substring hits the bound with equality) and is kept.
    * One integer comparison per pair, ~la·lb byte probes saved on
    * every pruned one — the SN families' verify tier is the
    * top-of-bench constant and its candidates are length-arbitrary
    * sort neighbors, exactly where this bites. Mirrored verbatim in
    * every consumer's oracle (`strlen` = bytes in DuckDB), and
    * JwPruneSpec pins the bound: a planted hopeless-ratio pair's
    * direct-kernel jw lands under 0.9, a planted pair at the exact
    * bound scores 0.9 and survives, and a 2k-pair fuzz confirms no
    * pruned pair ever reaches the bar. */
  private[graft] def jwFeasible(a: Column, b: Column): Column = {
    val la = octet_length(a)
    val lb = octet_length(b)
    least(la, lb) * lit(2) >= greatest(la, lb)
  }

  /** The SQL mirror of [[jwFeasible]]. */
  private def sqlJwFeasible(a: String, b: String): String =
    s"2 * least(strlen($a), strlen($b)) >= greatest(strlen($a), strlen($b))"

  /** Jaro–Winkler verification + verdict of an SN candidate-pair
    * relation — the single verify tier both registered SN queries
    * share (the kernel runs ONCE per pair per consumer; round 12's
    * overlap audit recomputed it through a nested full query).
    * Pairs failing the [[jwFeasible]] length-ratio bound are elided
    * before the kernel — they are provably `distinct`-verdict rows,
    * and the oracle elides them identically. */
  private def snVerified(s: SparkSession, d: String,
      pairs: DataFrame): DataFrame = {
    val txt = docs(s, d).select(col("doc_id"), col("text"))
    pairs
      .join(txt.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(txt.as("sb"), col("doc_b") === col("sb.doc_id"))
      .filter(jwFeasible(col("sa.text"), col("sb.text")))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.EditExprs
          .jaroWinklerSimilarity(col("sa.text"), col("sb.text")).as("jw"))
      .withColumn("verdict",
        when(col("jw") >= 0.9, "dup").otherwise("distinct"))
      .orderBy("doc_a", "doc_b")
  }

  /** PRUNE-SIZING AUDIT (`dedup_sn_prune_audit`) — how much the
    * [[jwFeasible]] length-ratio prune saves and why it is safe, as
    * a query over the LIVE corpus instead of a one-off spec corpus:
    * the SN candidate pairs bucket into `kept` / `pruned`, each
    * bucket reporting its pair count, its share of all candidates,
    * and the MAXIMUM theoretical Jaro–Winkler bound
    * 0.8 + 0.2·(min_bytes/max_bytes) — the `pruned` bucket's
    * max_jw_bound printing strictly under the 0.9 dup bar IS the
    * safety proof, re-derived on every corpus this runs against
    * (and the `kept` share prices the verify tier's remaining
    * kernel work). Pairs come from the production range-sharded
    * generator while the oracle runs the textbook global window —
    * so this audit also re-proves the shard decomposition on every
    * gate run. Cost: the pair generator + one O(pairs) projection
    * and an O(2) rollup — no JW kernel anywhere; the share
    * denominator is a window sum OVER the 2-row aggregate (round-15
    * ADVICE: the earlier self-referencing total planned the pair
    * stream twice). Writing `octet_length` after the joins is NOT a
    * byte hazard: an explicit pre-join length projection was built
    * and measured byte-identical (156947 shuffle bytes, 9 stages,
    * sf0.1) — Catalyst's project pushdown already ships only the
    * 8-byte lengths below the pair joins, so the query's 10x-rows
    * ratio is the SN generator family's documented pair growth, not
    * shipped text. */
  val dedupSnPruneAudit: Q = (s, d) => {
    val txt = docs(s, d).select(col("doc_id"), col("text"))
    val la = octet_length(col("sa.text")).cast("long")
    val lb = octet_length(col("sb.text")).cast("long")
    val mn = least(la, lb)
    val mx = greatest(la, lb)
    snPairsSharded(s, d)
      .join(txt.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(txt.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(
        when(mn * lit(2L) >= mx, "kept").otherwise("pruned").as("tag"),
        (lit(0.8) + lit(0.2) *
          (mn.cast("double") / mx.cast("double"))).as("jw_bound"))
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("jw_bound")).as("max_jw_bound"))
      .select(col("tag"), col("n_pairs"), col("max_jw_bound"),
        (col("n_pairs").cast("double") /
          sum(col("n_pairs")).over(Window.partitionBy()).cast("double"))
          .as("share"))
      .orderBy("tag")
  }

  /** PRUNE-SIZING AUDIT for the Jaccard verify tier
    * (`dedup_jaccard_prune_audit`) — [[dedupSnPruneAudit]]'s pattern
    * applied to the round-15 size-ratio prune: LSH candidate pairs
    * bucket into `kept`/`pruned` by [[jaccardFeasible]] on their
    * distinct-shingle-set sizes, each bucket reporting its pair
    * count, share, and MAXIMUM theoretical Jaccard bound
    * min(|A|,|B|)/max(|A|,|B|) — the `pruned` bucket's max_j_bound
    * printing strictly under [[JaccardFloor]] IS the prune's safety
    * proof, re-derived on every corpus each gate run (and the `kept`
    * share prices the intersection join the registered tier still
    * pays). Cost: the candidate generator + one members-only size
    * groupBy + an O(pairs) projection and an O(2) rollup — no
    * intersection join anywhere. */
  val dedupJaccardPruneAudit: Q = (s, d) => {
    val pairs = lshCandidatePairs(s, d)
    val members = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val sizes = docs(s, d)
      .join(broadcast(members), Seq("doc_id"), "left_semi")
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks")))).as("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val mn = least(col("za.n"), col("zb.n"))
    val mx = greatest(col("za.n"), col("zb.n"))
    pairs
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(
        when(mn * lit(2L) >= mx, "kept").otherwise("pruned").as("tag"),
        (mn.cast("double") / mx.cast("double")).as("j_bound"))
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("j_bound")).as("max_j_bound"))
      .select(col("tag"), col("n_pairs"), col("max_j_bound"),
        (col("n_pairs").cast("double") /
          sum(col("n_pairs")).over(Window.partitionBy()).cast("double"))
          .as("share"))
      .orderBy("tag")
  }

  /** Sorted-neighborhood blocking (`dedup_sorted_neighborhood`) — the
    * classic record-linkage ALTERNATIVE to LSH banding (Hernández &
    * Stolfo '95): sort the corpus by a normalized key (first
    * [[SnKeyLen]] alphanumerics, lowercased) and pair each doc with
    * its [[SnWindow]] successors, then verify with the Jaro–Winkler
    * tier. Catches the near-dups LSH's shingle hashing can miss when
    * edits are concentrated in one spot but the HEAD of the record is
    * stable (names, titles, product codes) — and its candidate count
    * is exactly linear (w·n pairs), the property that makes it the
    * standard blocking for entity resolution. The window runs over
    * the verifier-eligible slice (the [[EditMaxLen]] gate at the
    * relation head, mirrored in the oracle).
    *
    * The production registration runs the SHARDED pair generator
    * ([[snPairsSharded]] — range-partitioned sort with w-row overlap)
    * against the global-window oracle: equality IS the
    * range-partition decomposition proof (the peak-concurrency
    * promotion pattern applied to SN). Pair verification stays w·n
    * codegen'd kernel calls either way. */
  val dedupSortedNeighborhood: Q = (s, d) =>
    snVerified(s, d, snPairsSharded(s, d))

  /** The audit tier: the one-unpartitioned-window textbook form. */
  val dedupSortedNeighborhoodAudit: Q = (s, d) =>
    snVerified(s, d, snPairsGlobal(s, d))

  /** MULTI-PASS sorted neighborhood (`dedup_sn_multipass`) — the form
    * Hernández & Stolfo actually recommend for production linkage:
    * one SN pass per INDEPENDENT sort key, pair sets unioned, because
    * any single key is blind to edits inside its own prefix (a twin
    * whose first words were rewritten sorts far from its original
    * under the head key however identical the rest is). Two passes
    * here: the head key ([[snHeadKey]], the single-pass key) and the
    * reversed-text tail key ([[snTailKey]]); each runs the SAME
    * range-sharded w-row-overlap execution as the registered
    * single-pass query, pairs normalize to (min, max) orientation (a
    * twin can be found by both passes in opposite sort orders), and
    * the full-outer alignment tags each pair `head_only` /
    * `tail_only` / `both` before ONE Jaro–Winkler verification — the
    * provenance that prices whether the second pass pays for itself
    * (`tail_only` dups are recall the single-pass query leaves on the
    * table, the blocking-overlap question asked between SN passes).
    * Cost: exactly 2× the linear single-pass candidate stream plus
    * one O(pairs) equi-join — still no bucket blowup to cap. */
  val dedupSnMultipass: Q = (s, d) => {
    def normalized(pairs: DataFrame, flag: String) = pairs
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .withColumn(flag, lit(1L))
    val head = normalized(snPairsShardedBy(s, d, snHeadKey), "in_head")
    val tail = normalized(snPairsShardedBy(s, d, snTailKey), "in_tail")
    val tagged = head.join(tail, Seq("doc_a", "doc_b"), "full_outer")
      .na.fill(0L, Seq("in_head", "in_tail"))
      .select(col("doc_a"), col("doc_b"),
        when(col("in_head") === 1L && col("in_tail") === 1L, "both")
          .when(col("in_head") === 1L, "head_only")
          .otherwise("tail_only").as("passes"))
    val txt = docs(s, d).select(col("doc_id"), col("text"))
    tagged
      .join(txt.as("ma"), col("doc_a") === col("ma.doc_id"))
      .join(txt.as("mb"), col("doc_b") === col("mb.doc_id"))
      .filter(jwFeasible(col("ma.text"), col("mb.text")))
      .select(col("doc_a"), col("doc_b"), col("passes"),
        graft.functions.EditExprs
          .jaroWinklerSimilarity(col("ma.text"), col("mb.text")).as("jw"))
      .withColumn("verdict",
        when(col("jw") >= 0.9, "dup").otherwise("distinct"))
      .orderBy("doc_a", "doc_b")
  }

  /** Blocking-strategy audit (`dedup_blocking_overlap`) — which
    * candidate generator finds which duplicates: the LSH-band pairs
    * vs the sorted-neighborhood pairs on the SAME verifier-eligible
    * slice, tagged `both` / `lsh_only` / `sn_only`, each bucket
    * reporting its pair count, how many verify as Jaro–Winkler dups
    * (≥ 0.9), and the dup rate. The report that decides whether a
    * second blocker pays for itself: `sn_only` dups are recall LSH is
    * leaving on the table; a near-zero `sn_only` dup rate says the
    * window is wasted verification. Pairs normalize to (min, max) id
    * orientation before the full-outer alignment; counts integer,
    * the rate one division. Cost: both generators are already linear
    * candidate streams; the alignment is one equi-join on pair keys. */
  val dedupBlockingOverlap: Q = (s, d) => {
    val txt = docs(s, d).select(col("doc_id"), col("text"))
      .filter(length(col("text")) <= EditMaxLen)
    val ids = txt.select(col("doc_id"))
    val lsh = lshCandidatePairs(s, d)
      .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"),
        "left_semi")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"),
        "left_semi")
      .withColumn("in_lsh", lit(1L))
    // the shared pair GENERATOR, not the full verified query: round
    // 12 nested dedupSortedNeighborhood here, running the JW kernel
    // twice per SN pair (once discarded with its verdict and global
    // sort) — this audit computes JW exactly once per aligned pair
    val sn = snPairsSharded(s, d)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .withColumn("in_sn", lit(1L))
    lsh.join(sn, Seq("doc_a", "doc_b"), "full_outer")
      .na.fill(0L, Seq("in_lsh", "in_sn"))
      .withColumn("tag",
        when(col("in_lsh") === 1L && col("in_sn") === 1L, "both")
          .when(col("in_lsh") === 1L, "lsh_only")
          .otherwise("sn_only"))
      .join(txt.as("oa"), col("doc_a") === col("oa.doc_id"))
      .join(txt.as("ob"), col("doc_b") === col("ob.doc_id"))
      // aggregate-internal [[jwFeasible]] prune: every pair stays in
      // n_pairs, but a pair the length-ratio bound proves sub-bar is
      // scored 0 without running the kernel (CASE branches evaluate
      // lazily in codegen) — output-identical, oracle untouched
      .select(col("tag"),
        when(!jwFeasible(col("oa.text"), col("ob.text")), lit(0L))
          .otherwise((graft.functions.EditExprs
            .jaroWinklerSimilarity(col("oa.text"), col("ob.text")) >= 0.9)
            .cast("long")).as("is_dup"))
      .groupBy("tag")
      .agg(count(lit(1)).as("n_pairs"), sum(col("is_dup")).as("n_dup"))
      .withColumn("dup_rate",
        col("n_dup").cast("double") / col("n_pairs").cast("double"))
      .orderBy("tag")
  }

  /** Verification-tier edit THRESHOLD: a candidate pair more than
    * this many edits apart is "not a near-dup" — and the banded
    * verifier stops paying for the exact answer. */
  val EditThreshold = 64

  /** BANDED edit-distance verification (`dedup_edit_banded`) — the
    * scale path for the heaviest verifier in the engine. The exact
    * tier ([[dedupEditDistance]]) runs the full O(len_a·len_b) DP per
    * candidate pair because it reports the precise distance for every
    * pair; but the dedup DECISION only needs "within k edits or not",
    * and the thresholded `levenshtein(a, b, k)` runs the banded
    * O(max_len·k) DP with early exit — per pair, cost drops from
    * len² to len·k (len/k ≈ 20× less work at k=64 on ~kB docs, and
    * far-apart pairs exit earlier still). Same candidate generation,
    * same join shape; only the per-pair verifier narrows. The oracle
    * computes the FULL distance and applies the threshold after —
    * bit-equality proves the banded early-exit path returns exactly
    * the capped answer, never an approximation of it. */
  val dedupEditBanded: Q = (s, d) => {
    val pairs = lshCandidatePairs(s, d)
    val txt = docs(s, d).select(col("doc_id"), col("text"))
    pairs
      .join(txt.as("da"), col("doc_a") === col("da.doc_id"))
      .join(txt.as("db"), col("doc_b") === col("db.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.EditExprs
          .levenshteinCapped(col("da.text"), col("db.text"), EditThreshold)
          .as("edit_dist_capped"))
      .withColumn("verdict",
        when(col("edit_dist_capped") >= 0L, "near").otherwise("far"))
      .orderBy("doc_a", "doc_b")
  }

  /** Connected components over the LSH candidate graph — the step
    * that turns pairwise near-dup candidates into DEDUP CLUSTERS
    * (pick one canonical doc per component; everything else is a
    * near-copy of something in the cluster).
    *
    * Two docs are adjacent iff they share a (band, bucket), so
    * connectivity is computed on the BIPARTITE doc↔bucket graph
    * directly: one propagation step takes each bucket's min label,
    * then each doc's min over its buckets — equivalent to a full
    * neighbor-min (self included) on the pair graph, WITHOUT ever
    * materializing the pair list (which is quadratic in bucket size —
    * the thing that kills pair-based CC on a 100 TB hot bucket). Each
    * step is one narrow pass over the linear (doc, band, bucket)
    * relation, and the labels are held on the driver
    * ([[propagateMinLabels]]). The final labeling (isolated docs
    * joined back as their own singletons) is cached per dataset and
    * shared with [[dedupSplitAssign]]. */
  private def components(s: SparkSession, d: String): DataFrame =
    componentCache.getOrBuild(s, d) {
      val labels = propagateMinLabels(buckets(s, d))
      // isolated docs (no signature or lone bucket membership is fine
      // either way: never a candidate) are their own components
      labels.union(isolated(s, d, labels)).transform(graft.Checkpointing.cut)
    }

  private def isolated(s: SparkSession, d: String, labels: DataFrame) =
    docs(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("comp"))

  /** Min-label propagation over a bipartite (doc_id, band, bucket)
    * membership relation → one (doc_id, comp) row per member doc,
    * `comp` the least doc_id of its component, sorted by doc_id.
    *
    * The labels are held on the driver. The distinct non-null doc_ids
    * are collected once and sorted, and a doc's label is a position
    * in that list, so the least position is also the least doc_id.
    * The membership is cut once as a round relation of (band, bucket,
    * doc position), partitioned on the bucket, and released when the
    * loop ends. A round is one [[graft.Checkpointing.vectorRound]]:
    * per bucket, the least label of its members goes to every member,
    * and the driver keeps each doc's `min`. Then the driver jumps
    * pointers once, `lbl(i) ← lbl(lbl(i))`, the star-contraction move
    * of the MapReduce-CC literature, and the loop stops after a round
    * that changes no label.
    *
    * The neighbor step alone converges in O(graph diameter) rounds,
    * fine for dense LSH dup clusters (diameter 1-2) but LINEAR on an
    * incremental-edit CHAIN of near-dups, each adjacent pair sharing
    * one bucket (a crawl of successive page edits). The jump squares
    * the label-pointer horizon each round, so a depth-d chain
    * converges in O(log d) rounds (ChainConvergenceSpec pins a planted
    * 65-link chain to ≤ 2·⌈log₂ n⌉ + 3 rounds where the neighbor-only
    * loop needs ≥ n/2). Both maps are non-increasing per doc, and a
    * label always names a doc of the same component; a round that
    * changes nothing leaves every bucket's members on one label, so
    * the result is EXACTLY the component-min labeling the
    * neighbor-only loop reaches. There is no round cap; the loop's
    * stderr line reports the round count. */
  private[graft] def propagateMinLabels(bk: DataFrame): DataFrame =
    propagateMinLabelsCounted(bk)._1

  /** [[propagateMinLabels]] plus the number of rounds the loop ran,
    * the last being the one that changed no label — the test seam
    * ChainConvergenceSpec uses to pin the log-round bound. */
  private[graft] def propagateMinLabelsCounted(
      bk: DataFrame): (DataFrame, Int) = {
    val s = bk.sparkSession
    val ids = bk.select(col("doc_id")).distinct().collect()
      .filterNot(_.isNullAt(0)).sortBy(_.getLong(0))
    val (n, doc) = (ids.length, bk.schema("doc_id"))
    val index = graft.Checkpointing.denseFrame(s, ids, doc,
      "i" -> Array.tabulate(n)(_.toLong))
    // the round relation, kept as a frame so that its cut can be
    // released once the loop is done
    val members = graft.Checkpointing.cut(bk.join(index, "doc_id")
      .select(col("band"), col("bucket"), col("i"))
      .repartition(col("band"), col("bucket")))
    val rel = members.as(Encoders.product[(Long, Long, Long)]).rdd
    // per bucket of a partition, the least label of its members, sent
    // to each member
    def bucketMin(lbl: Array[Long], rows: Iterator[(Long, Long, Long)])
        : Iterator[(Int, Long)] =
      rows.toSeq.groupMap(r => (r._1, r._2))(_._3.toInt).valuesIterator
        .flatMap { bucket =>
          val low = bucket.iterator.map(lbl(_)).min
          bucket.map(_ -> low)
        }
    val ((labels, _), rounds) = graft.Checkpointing.driverRounds(
        "components", (Array.tabulate(n)(_.toLong), true), Int.MaxValue) {
      case (_, false) => None
      case (lbl, true) =>
        val low = graft.Checkpointing.vectorRound(rel, lbl, n, math.min)(
          bucketMin)
        val next = low.map(l => low(l.toInt))
        Some((next, !java.util.Arrays.equals(next, lbl)))
    }
    graft.Checkpointing.release(members)
    (graft.Checkpointing.denseFrame(s, ids, doc,
      "comp" -> labels.map(l => ids(l.toInt).getLong(0))), rounds)
  }

  /** (doc_id, component_id) for every document; isolated docs are
    * their own singleton component. */
  val dedupComponents: Q = (s, d) =>
    components(s, d)
      .select(col("doc_id"), col("comp").as("component_id"))
      .orderBy("doc_id")

  /** Leakage-free train/val/test split: the WHOLE near-dup cluster
    * goes to one split (splitting by raw doc_id would leak near-copies
    * of training docs into eval — the classic contamination bug this
    * operator exists to prevent). Deterministic: polynomial char hash
    * of the component id's decimal string, mod 10 → 8/1/1. */
  val dedupSplitAssign: Q = (s, d) =>
    components(s, d)
      .withColumn("bucket",
        charHash(col("comp").cast("string")) % 10)
      .select(col("doc_id"), col("comp").as("component_id"),
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** The dedup savings report: one row per near-dup cluster with its
    * canonical doc, member count, and the bytes a keep-one-per-cluster
    * policy removes — the number that justifies (or kills) a dedup
    * stage in a pipeline review. One combinable aggregate over the
    * cached component labeling joined to doc sizes. */
  val dedupSavings: Q = (s, d) =>
    components(s, d)
      .join(docs(s, d).select(col("doc_id"), col("n_chars")), "doc_id")
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("doc_id") =!= col("comp"), col("n_chars"))
          .otherwise(0L)).as("chars_saved"))
      .select(col("comp").as("canonical_id"), col("n_members"),
        col("total_chars"), col("chars_saved"))
      .orderBy("canonical_id")

  /** SURVIVORSHIP POLICY (`dedup_survivor`) — WHICH copy a
    * keep-one-per-cluster pass keeps: per multi-member near-dup
    * component, the information-richest member wins — most DISTINCT
    * tokens, then longest text, then min doc_id — instead of the
    * naive min-id rule (near-dup clusters are page REVISIONS; min id
    * keeps the oldest, most-stale revision, throwing away every
    * edit). All-integer ordering keys, one stats projection + one
    * equi-join with the cached labeling + a per-component rank ≤ 1
    * window (WindowGroupLimit — top-1 per group, never a full sort).
    * `n_dropped` is the enforcement mass; `survivor_is_min_id` shows
    * exactly where the policy disagrees with the naive rule. */
  val dedupSurvivor: Q = (s, d) => {
    val stats = docs(s, d)
      .select(col("doc_id"),
        size(array_distinct(graft.functions.Hashing.tokens(col("text"))))
          .cast("long").as("nd"),
        col("n_chars"))
    val ms = components(s, d).join(stats, "doc_id")
    val sizes = ms.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"), min(col("doc_id")).as("min_id"))
      .filter(col("n_members") > 1)
    val w = Window.partitionBy(col("comp"))
      .orderBy(col("nd").desc, col("n_chars").desc, col("doc_id"))
    ms.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(sizes, Seq("comp"))
      .select(col("comp").as("component_id"),
        col("doc_id").as("survivor_id"), col("n_members"),
        (col("n_members") - 1L).as("n_dropped"),
        col("nd").as("survivor_distinct_tokens"),
        col("n_chars").as("survivor_chars"),
        (col("doc_id") === col("min_id")).cast("long")
          .as("survivor_is_min_id"))
      .orderBy("component_id")
  }

  /** Dedup-cluster quality profile: per multi-member near-dup
    * component, the member count, verified-edge count, and the
    * min/max EXACT shingle Jaccard over its candidate edges — the QA
    * report that separates tight clusters (high min) from loose
    * LSH false-positive chains (large n_members, low min_jaccard)
    * BEFORE a keep-one policy fires on them. min/max rather than mean
    * keeps double parity exact (a mean would sum doubles in
    * engine-specific order). Reuses the cached component labeling and
    * [[jaccardScoredAll]]'s verified edges (unpruned — min/max over
    * a cluster's edges must see every edge): one equi-join (an edge's
    * component is its doc_a's — doc_b's is equal by construction) +
    * two combinable groupBys. */
  val dedupComponentProfile: Q = (s, d) => {
    val members = components(s, d)
    val sizes = members.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > 1)
    val edges = jaccardScoredAll(s, d)
      .join(members.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_edges"),
        min(col("jaccard")).as("min_jaccard"),
        max(col("jaccard")).as("max_jaccard"))
    sizes.join(edges, Seq("comp"))
      .select(col("comp").as("component_id"), col("n_members"),
        col("n_edges"), col("min_jaccard"), col("max_jaccard"))
      .orderBy("component_id")
  }

  /** Quality-weighted canonical selection: per near-dup cluster, KEEP
    * the member with the best quality score ([[TextOps.textQuality]]'s
    * weighted stopword/alpha/diversity blend) instead of
    * [[dedupSavings]]' min-id convention — the keep-one policy a real
    * curation pipeline runs, where dropping the cleaner copy of a
    * near-dup pair throws away exactly the data you deduped to keep.
    * Deterministic: ties (identical doubles — e.g. exact copies score
    * identically) break to the lowest doc_id on both engines.
    *
    * Scale shape: the cached component labeling equi-joined to the
    * per-doc quality projection, then one WindowGroupLimit-able
    * top-1 per cluster (bounded heap, no cluster-wide sort) plus a
    * partition-count window over the same shuffle — a single
    * hash-partition by component. */
  val dedupKeepBest: Q = (s, d) => {
    val quality = TextOps.textQuality(s, d)
      .select(col("doc_id"), col("quality"))
    val byComp = Window.partitionBy(col("comp"))
    components(s, d)
      .join(quality, "doc_id")
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("rn", row_number().over(
        byComp.orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("comp").as("component_id"),
        col("doc_id").as("keep_doc_id"),
        col("quality").as("keep_quality"), col("n_members"))
      .orderBy("component_id")
  }

  /** Cross-source contamination report: LSH near-dup candidate pairs
    * rolled up per (source, source) pair — "is source X republishing
    * source Y" is the question a corpus-mixing review asks before
    * weighting sources (double-counting a mirrored source silently
    * over-weights its distribution). Pair sources are ordered
    * lexicographically so the matrix is canonical-triangular; n_exact
    * counts the pairs that are verbatim copies. Cost ∝ LSH candidate
    * pairs (never all pairs) + two doc-metadata equi-joins. */
  val dedupCrossSource: Q = (s, d) => {
    val pairs = lshCandidatePairs(s, d)
    val ds = docs(s, d).select(col("doc_id"), col("source"), col("text"))
    pairs
      .join(ds.as("da"), col("doc_a") === col("da.doc_id"))
      .join(ds.as("db"), col("doc_b") === col("db.doc_id"))
      .select(
        least(col("da.source"), col("db.source")).as("source_a"),
        greatest(col("da.source"), col("db.source")).as("source_b"),
        (col("da.text") === col("db.text")).cast("long").as("is_exact"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum(col("is_exact")).as("n_exact"))
      .orderBy("source_a", "source_b")
  }

  /** Incremental (delta) dedup: screen a NEW BATCH of documents
    * against the EXISTING corpus — the shape every production corpus
    * actually runs (yesterday's 100 TB is already deduped and indexed;
    * today's crawl is screened against it, never corpus × corpus
    * again). The batch here is the deterministic ~10% slice
    * `charhash(doc_id) % 10 = 7`; everything else plays the corpus.
    *
    * Per new doc: is it a verbatim copy of a corpus doc, how many LSH
    * near-dup candidates does it hit in the corpus, and the resulting
    * triage verdict (exact > near > unique).
    *
    * Scale shape: candidate generation is a (band, bucket) equi-join
    * of the batch's bucket rows against the PERSISTED corpus index —
    * cost ∝ batch size × bucket occupancy, never corpus². The exact
    * gate joins the batch against the corpus text-fingerprint set; at
    * real scale that set is a stored hash index and the batch side is
    * the broadcast-able one. Both sides here filter the one shared
    * cached bucket relation, so no signature recompute either. */
  val dedupIncremental: Q = (s, d) => {
    val isNew = charHash(col("doc_id").cast("string")) % 10 === 7
    val all = docs(s, d).select(col("doc_id"), col("text"), isNew.as("is_new"))
    val batch = all.filter(col("is_new"))
    val corpusTexts = all.filter(!col("is_new"))
      .select(col("text")).distinct()
      .withColumn("exact_hit", lit(1L))
    val bk = buckets(s, d)
    val bkIsNew = charHash(col("doc_id").cast("string")) % 10 === 7
    val cand = bk.filter(bkIsNew).as("x")
      .join(bk.filter(!bkIsNew).as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("cand_id"))
      .distinct()
    val nCand = cand.groupBy("doc_id").agg(count(lit(1)).as("n_near_cands"))
    batch
      .join(corpusTexts, Seq("text"), "left")
      .join(nCand, Seq("doc_id"), "left")
      .na.fill(0L, Seq("exact_hit", "n_near_cands"))
      .select(col("doc_id"), col("exact_hit").as("is_exact_dup"),
        col("n_near_cands"),
        when(col("exact_hit") === 1L, "exact")
          .when(col("n_near_cands") > 0L, "near")
          .otherwise("unique").as("verdict"))
      .orderBy("doc_id")
  }

  /** Hash tag selecting which docs spawn a delta copy in
    * [[dedupDeltaProbe]] — distinct from `dedup_incremental`'s
    * is_new tag (7) so the two shapes exercise different rows. */
  val DeltaTag = 3L

  /** Delta doc ids sit far above the corpus id space. */
  val DeltaIdOffset = 1000000L

  /** CROSS-RUN delta probe — the daily-ingest shape: tomorrow's batch
    * (here DERIVED: a prefix-edited re-crawl of every [[DeltaTag]]-
    * tagged doc, at new ids) probed against the PERSISTED corpus
    * bucket index WITHOUT rebuilding or extending it. Unlike
    * `dedup_incremental` (which splits one dataset into corpus/batch
    * and indexes both), the delta rows here are NOT in the index —
    * their bucket rows are computed statelessly ([[bucketRows]], the
    * same projection the streaming gate runs) and equi-joined against
    * the cached relation, so a daily run costs O(delta), never
    * O(corpus). [[graft.DeltaProbeSpec]] pins that the probe adds
    * zero persisted relations — the old index is probed, not rebuilt.
    *
    * Per delta doc: candidate count, whether the index recognized its
    * own original (`self_hit` — the re-crawl link), and the verdict. */
  /** The derived daily-ingest batch shared by [[dedupDeltaProbe]] and
    * [[dedupIndexMerge]]: a prefix-edited re-crawl of every
    * [[DeltaTag]]-tagged doc, at [[DeltaIdOffset]]-shifted ids. */
  private[graft] def deltaBatch(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .filter(charHash(col("doc_id").cast("string")) % 10 === DeltaTag)
      .select((col("doc_id") + DeltaIdOffset).as("doc_id"),
        col("doc_id").as("orig_id"),
        concat(lit("UPDATE: "), col("text")).as("text"))

  /** INCREMENTAL CONNECTED COMPONENTS (`dedup_components_delta`) —
    * the daily-ingest completion of the clustering tier: the delta
    * batch must land in the component structure without re-running
    * label propagation over the full corpus graph. The classic
    * coarsened-graph trick: every EXISTING component collapses to one
    * synthetic bucket (band [[CompBand]], keyed by its component id)
    * over its members — corpus-internal connectivity becomes depth-1
    * — and the only LSH cells re-materialized are the ones the delta
    * TOUCHES (a semi-join of the cached corpus index against the
    * delta's bucket rows). Propagation then converges in O(new-edge
    * diameter) steps over |delta| + |touched| + |corpus-membership|
    * rows, not the full candidate graph: at 100 TB the daily cost is
    * proportional to the day's crawl, while a transitive merge of two
    * old mega-clusters through a delta doc still resolves exactly
    * (the collapsed buckets chain through the new doc).
    *
    * The oracle re-runs the RECURSIVE CC from scratch over
    * corpus ∪ delta — bit-equality is the incremental ≡ full-rebuild
    * proof, including min-id labels across merged components. */
  val CompBand = 4L // outside bucketRows' band range 0..Bands-1

  val dedupComponentsDelta: Q = (s, d) => {
    val deltaBk = bucketRows(deltaBatch(s, d)
      .select(col("doc_id"), col("text")))
    val comp = components(s, d)
    // blast radius: corpus rows in delta-touched LSH cells → the
    // components those rows belong to → ALL members of those
    // components. Only this set enters the propagation loop; the
    // untouched corpus passes through label-unchanged below. A delta
    // doc can only change a corpus label by reaching it through a
    // shared cell, so the radius is exact, not a heuristic.
    val touched = buckets(s, d)
      .join(deltaBk.select(col("band"), col("bucket")).distinct(),
        Seq("band", "bucket"), "left_semi")
    val activeComps = comp
      .join(touched.select(col("doc_id")).distinct(), Seq("doc_id"),
        "left_semi")
      .select(col("comp")).distinct()
    val activeMembers = comp
      .join(activeComps, Seq("comp"), "left_semi")
    val membership = deltaBk
      .select(col("doc_id"), col("band"), col("bucket"))
      .unionByName(touched)
      .unionByName(activeMembers
        .select(col("doc_id"), lit(CompBand).as("band"),
          col("comp").as("bucket")))
      // cut once: the loop reads it twice, for its doc ids and for
      // its round relation
      .transform(graft.Checkpointing.cut)
    val labels = propagateMinLabels(membership)
    graft.Checkpointing.release(membership)
    // a delta doc too short for a signature has no membership row —
    // its own singleton component, exactly as the full rebuild seeds it
    val lonelyDelta = deltaBatch(s, d).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("comp"))
    val unchanged = comp.join(labels, Seq("doc_id"), "left_anti")
    labels.unionByName(lonelyDelta).unionByName(unchanged)
      .select(col("doc_id"), col("comp").as("component_id"))
      .orderBy("doc_id")
  }

  val dedupDeltaProbe: Q = (s, d) => {
    val delta = deltaBatch(s, d)
    val cand = bucketRows(delta.select(col("doc_id"), col("text")))
      .join(buckets(s, d)
        .select(col("band"), col("bucket"), col("doc_id").as("cand_id")),
        Seq("band", "bucket"))
      .select(col("doc_id"), col("cand_id"))
      .distinct()
    val roll = cand.groupBy("doc_id")
      .agg(count(lit(1)).as("n_near_cands"),
        max(when(col("cand_id") === col("doc_id") - DeltaIdOffset, 1L)
          .otherwise(0L)).as("self_hit"))
    delta.select(col("doc_id"), col("orig_id"))
      .join(roll, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_near_cands", "self_hit"))
      .select(col("doc_id"), col("orig_id"), col("n_near_cands"),
        col("self_hit"),
        when(col("self_hit") === 1L, "recognized")
          .when(col("n_near_cands") > 0L, "near")
          .otherwise("new").as("verdict"))
      .orderBy("doc_id")
  }

  /** The merged-index cache ([[dedupIndexMerge]]): per (context, dir,
    * mtime), the corpus bucket index EXTENDED by the delta batch's
    * rows. A new mtime atomically supersedes the entry. The entry
    * reads [[bucketCache]]'s leaf as well as its own delta cut, so its
    * eviction frees only the delta leaf while the corpus entry is live
    * ([[graft.Checkpointing.release]]). */
  private val mergedCache = new IndexCache("documents")

  /** INDEX MERGE — completes [[dedupDeltaProbe]]'s delta story: the
    * daily batch's bucket rows are APPENDED to the persisted corpus
    * index instead of triggering the all-or-nothing mtime rebuild.
    * Only the delta rows are computed and materialized (an eager
    * `localCheckpoint` of O(delta) rows); the corpus side of the
    * published union scans [[buckets]]'s existing leaf, so a daily
    * merge costs O(delta) — IndexMergeSpec pins that exactly one new
    * persisted relation appears and the old cache entry is untouched.
    * Publication via [[IndexCache]] is the atomic supersede: consumers
    * see either the old index or the merged one, and eviction of a
    * superseded merge frees ONLY the appended delta leaf (the corpus
    * leaf stays while [[bucketCache]]'s live entry reads it).
    *
    * The oracle rebuilds the index from scratch over corpus ∪ delta —
    * bit-equality IS the merge ≡ rebuild proof (per-doc bucket rows
    * depend only on the doc, so append is semantically exact). */
  val dedupIndexMerge: Q = (s, d) => {
    mergedBuckets(s, d)
      .select(col("doc_id"), col("band"), col("bucket"))
      .orderBy("doc_id", "band")
  }

  private[graft] def mergedBuckets(s: SparkSession, d: String): DataFrame =
    mergedCache.getOrBuild(s, d) {
      val deltaBk = bucketRows(
        deltaBatch(s, d).select(col("doc_id"), col("text")))
        .transform(graft.Checkpointing.cut) // eager: materialize ONLY the appended rows
      buckets(s, d).unionByName(deltaBk)
    }

  /** Hash tag selecting the takedown/tombstone set for the
    * deletion-side maintenance queries (`dedup_index_compact`,
    * `ann_index_compact`, `mm_store_gc`) — distinct from
    * `dedup_incremental`'s is_new tag (7) and [[DeltaTag]] (3) so the
    * three derivation conventions exercise disjoint row sets. */
  val TombTag = 5L

  /** The tombstone predicate over an id column — the shared takedown
    * list derivation. In production this is a broadcast semi-join
    * against the (small) takedown table; here the list is DERIVED by
    * hash tag so the oracle can reproduce it exactly. */
  private[graft] def tombstoned(id: Column): Column =
    charHash(id.cast("string")) % 10 === TombTag

  /** INDEX COMPACTION — the DELETION side of index maintenance,
    * completing the lifecycle the merges left half-done: build
    * ([[buckets]]) → probe ([[dedupDeltaProbe]]) → append
    * ([[dedupIndexMerge]]) → REMOVE (this). A takedown/opt-out batch
    * must leave the index as if the tombstoned docs had never been
    * crawled — without the all-or-nothing mtime rebuild.
    *
    * The compacted index is a logical delete: a narrow FILTER over the
    * persisted corpus blocks. Deliberately NOT re-materialized — a
    * checkpoint here would double index storage to delete a few
    * percent of rows; the filter costs one predicate per cached row at
    * every consumer, and the periodic physical rewrite (when
    * tombstones accumulate past a threshold) is exactly the existing
    * mtime rebuild. At 100 TB the same shape holds: the index is the
    * small derived relation (bucket ids, not text), the tombstone list
    * broadcasts, and no document byte is ever re-read to forget one —
    * CompactionSpec pins zero new persisted relations and zero hash
    * exchanges below the output sort.
    *
    * The oracle rebuilds the index from scratch over
    * corpus ∖ tombstones — bit-equality IS the compaction ≡ rebuild
    * proof (per-doc bucket rows depend only on the doc, so dropping a
    * doc's rows is semantically exact). */
  val dedupIndexCompact: Q = (s, d) =>
    buckets(s, d)
      .filter(!tombstoned(col("doc_id")))
      .select(col("doc_id"), col("band"), col("bucket"))
      .orderBy("doc_id", "band")

  /** The physically-rewritten index — its own (context, dir, mtime)
    * cache so publication is the same atomic putIfAbsent supersede
    * every other index family uses; a source overwrite (mtime bump)
    * evicts it transparently. */
  private val rewriteCache = new IndexCache("documents")

  private[graft] def rewriteCacheKeys = rewriteCache.keys

  /** INDEX REWRITE — the PHYSICAL reclaim [[dedupIndexCompact]]
    * deliberately defers. The logical delete is right while tombstones
    * are few (a narrow filter over cached blocks, zero extra storage),
    * but every consumer pays the predicate on every row forever, and a
    * tombstone-heavy index carries dead rows in executor storage with
    * no path to reclaim short of the all-or-nothing mtime rebuild from
    * the raw corpus. This operator is that missing targeted path:
    * materialize the SURVIVING rows of the persisted LSH index (one
    * eager `localCheckpoint` — lineage cut, so the new relation has no
    * recompute path back to the corpus at all) and publish it through
    * [[IndexCache]]'s atomic putIfAbsent, exactly the supersede
    * discipline the merge family uses.
    *
    * The input is the INDEX's existing cached blocks, never the
    * documents parquet — reclaim cost ∝ |index|, not |corpus|
    * (RewriteSpec pins exactly one new persisted relation, an
    * untouched corpus-index cache entry, and a rewritten plan with no
    * file scan). At 100 TB that asymmetry is the point: the index is
    * the small derived relation (ids and bucket hashes), the corpus is
    * the 100 TB of text a rewrite must never touch.
    *
    * The oracle rebuilds the index from scratch over
    * corpus ∖ tombstones — identical to `dedup_index_compact`'s, which
    * is the claim itself: logical delete, physical rewrite, and full
    * rebuild are three costs for ONE semantic result. */
  val dedupIndexRewrite: Q = (s, d) =>
    rewrittenBuckets(s, d)
      .orderBy("doc_id", "band")

  private[graft] def rewrittenBuckets(s: SparkSession, d: String): DataFrame =
    rewriteCache.getOrBuild(s, d) {
      buckets(s, d)
        .filter(!tombstoned(col("doc_id")))
        .select(col("doc_id"), col("band"), col("bucket"))
        .transform(graft.Checkpointing.cut) // eager: survivors materialized, lineage cut
    }

  /** INDEX TOMBSTONE STATS — the monitor that gives the index
    * lifecycle its REWRITE TRIGGER. The logical delete is free but
    * accumulates dead rows; the physical rewrite reclaims them but
    * costs a full index materialization — the policy needs a number:
    * per band, total rows, tombstoned rows, and the live fraction.
    * When `live_frac` dips below the operator's threshold (a policy
    * knob, not engine logic), run `dedup_index_rewrite`. One
    * map-side-combinable groupBy over the persisted index — ints
    * only, no document byte touched; the division is the only double
    * and both engines compute it from the same two BIGINTs. */
  val dedupIndexStats: Q = (s, d) =>
    buckets(s, d)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(tombstoned(col("doc_id")), 1L).otherwise(0L)).as("n_tomb"))
      .select(col("band"), col("n_rows"), col("n_tomb"),
        ((col("n_rows") - col("n_tomb")).cast("double")
          / col("n_rows").cast("double")).as("live_frac"))
      .orderBy("band")

  /** Hash tag selecting the newly-discovered docs of
    * [[docSnapshotDiff]]'s tomorrow snapshot — disjoint from
    * [[DeltaTag]] (re-crawl) and [[TombTag]] (takedown), so one diff
    * exercises all four statuses. */
  val AddTag = 1L

  /** SNAPSHOT DIFF (`doc_snapshot_diff`) — the daily corpus audit
    * that ties the maintenance derivations together: tomorrow's
    * snapshot is today's corpus with the takedown batch removed
    * ([[TombTag]]), the re-crawl applied in place ([[DeltaTag]],
    * "UPDATE: " prefix), and the newly-discovered docs appended
    * ([[AddTag]], offset ids) — and the diff classifies every logical
    * doc as removed / changed / added / unchanged with its before and
    * after fingerprints.
    *
    * Shape at 100 TB: both snapshots are projected to
    * (doc_id, md5, byte_len) BEFORE the full-outer join, so the only
    * shuffle moves 16-byte digests — never document bytes; the md5s
    * are computed in the scan stages. This is the diff you run
    * between daily crawls to decide which downstream indexes need
    * [[dedupIndexMerge]] (added/changed) vs [[dedupIndexCompact]]
    * (removed) — fingerprint-level change detection, not byte
    * comparison. */
  val docSnapshotDiff: Q = (s, d) => {
    val base = docs(s, d)
    val isDelta = charHash(col("doc_id").cast("string")) % 10 === DeltaTag
    val isAdd = charHash(col("doc_id").cast("string")) % 10 === AddTag
    val a = base.select(col("doc_id"),
      md5(col("text").cast("binary")).as("old_md5"),
      length(col("text").cast("binary")).cast("long").as("old_len"))
    val bKept = base.filter(!tombstoned(col("doc_id")))
      .select(col("doc_id"),
        when(isDelta, concat(lit("UPDATE: "), col("text")))
          .otherwise(col("text")).as("text"))
    val bAdded = base.filter(isAdd)
      .select((col("doc_id") + DeltaIdOffset).as("doc_id"),
        concat(lit("NEW: "), col("text")).as("text"))
    val b = bKept.unionByName(bAdded)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("new_md5"),
        length(col("text").cast("binary")).cast("long").as("new_len"))
    a.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("new_md5").isNull, "removed")
          .when(col("old_md5").isNull, "added")
          .when(col("old_md5") =!= col("new_md5"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("old_md5"), lit("")).as("old_md5"),
        coalesce(col("new_md5"), lit("")).as("new_md5"),
        coalesce(col("old_len"), lit(-1L)).as("old_len"),
        coalesce(col("new_len"), lit(-1L)).as("new_len"))
      .orderBy("doc_id")
  }

  /** SNAPSHOT DRIFT (`doc_snapshot_drift`) — the per-source rollup of
    * [[docSnapshotDiff]]'s classification: how many docs each source
    * loses (takedowns), re-crawls, and gains between daily snapshots.
    * This is the relation a drift monitor alarms on — a source whose
    * removal or churn rate jumps is a crawl regression or a takedown
    * wave, caught before the training mix silently shifts. ONE
    * map-side-combinable aggregation over the corpus scan (the tag
    * classification is a per-row expression; no join, no second pass),
    * so the monitor costs a single narrow shuffle of |sources| rows. */
  val docSnapshotDrift: Q = (s, d) => {
    val t = charHash(col("doc_id").cast("string")) % 10
    docs(s, d).groupBy(col("source"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(t === TombTag, 1L).otherwise(0L)).as("n_removed"),
        sum(when(t === DeltaTag, 1L).otherwise(0L)).as("n_changed"),
        sum(when(t === AddTag, 1L).otherwise(0L)).as("n_added"))
      .select(col("source"), col("n_before"),
        (col("n_before") - col("n_removed") + col("n_added"))
          .as("n_after"),
        col("n_removed"), col("n_changed"), col("n_added"))
      .orderBy("source")
  }

  /** The strip engine shared by [[textCdcRemove]] (batch, canonical-
    * owner semantics) and [[StreamOps]]'s `stream_cdc_strip` (ingest,
    * corpus-always-wins semantics): CDC-chunk `docsWithText`
    * (doc_id, text) over the UTF-8 bytes, drop every chunk whose
    * digest appears in `owners` (chunk_md5, owner) under a DIFFERENT
    * owner, and reassemble the kept byte ranges. Unmatched digests
    * always stay; an owner equal to the doc itself keeps its copy.
    * The reassembly shuffles only (chunk_idx, offset, len) triples —
    * document bytes stay in scan stages (PlanSpec pin). */
  private[graft] def cdcStripAgainst(docsWithText: DataFrame,
      owners: DataFrame): DataFrame = {
    val chunks = docsWithText
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .filter(col("byte_len") > 0)
      .withColumn("bs", org.apache.spark.sql.GraftColumn(
        graft.functions.CdcBoundaries(
          org.apache.spark.sql.GraftColumn.expr(col("payload")))))
      .withColumn("starts", concat(array(lit(0L)), col("bs")))
      .withColumn("ends", concat(col("bs"), array(col("byte_len"))))
      .select(col("doc_id"), col("payload"),
        posexplode(arrays_zip(col("starts"), col("ends")))
          .as(Seq("chunk_idx", "se")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("se.starts").as("cstart"),
        (col("se.ends") - col("se.starts")).as("clen"),
        md5(expr("substring(payload, CAST(se.starts + 1 AS INT), " +
          "CAST(se.ends - se.starts AS INT))")).as("chunk_md5"))
    val tagged = chunks.join(owners, Seq("chunk_md5"), "left")
      .withColumn("keep",
        col("owner").isNull || col("owner") === col("doc_id"))
    val roll = tagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(when(col("keep"),
          struct(col("chunk_idx").as("ci"), col("cstart").as("cs"),
            col("clen").as("cl"))))).as("rs"))
    // Reassembly slices the BINARY payload: (cs, cl) are BYTE
    // offsets (CdcBoundaries runs over UTF-8 bytes), so substring
    // must address bytes — round 6 sliced the STRING with the same
    // numbers, silently corrupting any multi-byte document
    // (SubstrDedupSpec round-trips a non-ASCII doc against this).
    // Kept byte ranges are folded back together and decoded once; a
    // chunk boundary can in principle split a multi-byte sequence,
    // but only at a REMOVED splice point — untouched documents
    // round-trip byte-for-byte by construction.
    docsWithText
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .join(roll, Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
        expr("decode(aggregate(rs, CAST('' AS BINARY), (acc, r) -> " +
          "concat(acc, substring(payload, CAST(r.cs + 1 AS INT), " +
          "CAST(r.cl AS INT)))), 'UTF-8')").as("clean_text"))
      .withColumn("clean_len", length(col("clean_text")).cast("long"))
  }

  /** REMOVAL pass of the substring tier (`text_cdc_remove`) — the
    * dedup ladder's payoff on [[textCdcDedup]]'s findings: each CDC
    * chunk whose digest is shared by 2..[[MaxChunkDf]] distinct docs
    * is kept ONLY in its canonical (min-id) owner and stripped from
    * every later doc; unique digests always stay, and digests over
    * the cap are deliberately left to the boilerplate removal pass
    * (`text_remove_boilerplate`) — same division of labor as the
    * detector. Output IS the cleaned corpus (no smaller answer
    * exists), with per-doc kept/total chunk counts.
    *
    * Shape for 100 TB: the ownership relation is two combinable aggs
    * over the persisted chunk store; the strip/reassembly is
    * [[cdcStripAgainst]] — shared verbatim with the streaming ingest
    * gate `stream_cdc_strip`, which runs it per micro-batch. */
  val textCdcRemove: Q = (s, d) => {
    val owners = MultimodalOps.chunkStore(s, d)
      .groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("dfd"),
        min(col("doc_id")).as("owner"))
      .filter(col("dfd").between(2, MaxChunkDf))
      .select(col("chunk_md5"), col("owner"))
    cdcStripAgainst(docs(s, d).select(col("doc_id"), col("text")), owners)
      .orderBy("doc_id")
  }

  /** SimHash fingerprint clusters: groups sharing an identical 32-bit
    * simhash (near-identical token multisets), with sizes. */
  val dedupSimhashClusters: Q = (s, d) =>
    docs(s, d)
      .withColumn("thashes", hashAll(tokens(col("text"))))
      .select(col("doc_id"), simhash32(col("thashes")).as("simhash"))
      .groupBy("simhash")
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("cluster_size"))
      .orderBy("simhash")

  /** SimHash band width (bits) for [[dedupHammingHistogram]]'s
    * candidate join: 4 bands of 8 bits over the 32-bit fingerprint.
    * By pigeonhole, every pair within Hamming distance < 4 shares at
    * least one untouched band, so the histogram is EXACT below 4
    * bits — the near-dup decision range — and candidates-only above.
    * Band width is a corpus-size knob: 2^8 buckets per band keeps
    * Σ bucket² tame at gate scale; a 100 TB corpus runs the same
    * query over a wider fingerprint with proportionally wider bands
    * (Manku et al., WWW'07) so buckets stay O(corpus/2^bits). */
  val SimhashBandBits = 8
  /** Histogram range: the calibration decision lives inside this
    * distance; the random-pair hump beyond it is noise, and cutting
    * it HERE (inside the join projection, before any exchange) is
    * what keeps the pair shuffle small. */
  val HammingHistMax = 8L

  /** SimHash threshold-calibration histogram
    * (`dedup_hamming_histogram`) — the evidence behind choosing a
    * simhash Hamming cutoff: candidate doc pairs (band-bucket join,
    * never all-pairs — cost ∝ Σ bucket² per band) counted by exact
    * Hamming distance `bit_count(a XOR b)` up to [[HammingHistMax]],
    * with the cumulative pair count. A healthy corpus shows a spike
    * at 0–2 (true near-dups) and a valley before the random-pair
    * hump; the cutoff belongs in the valley — same calibration logic
    * as the session-gap histogram, on the dedup axis. All integers;
    * the only double is the cumulative share. Distances < 4 bits are
    * complete by the [[SimhashBandBits]] pigeonhole; 4..8 count only
    * band-sharing pairs (documented — the decision range is what
    * must be exact). Perf shape — two exact collapses compose so
    * nothing pair-shaped is ever exchanged:
    * 1. DISTINCT-FINGERPRINT collapse (round 16): the band self-join
    *    runs over distinct `sh` VALUES with multiplicities, not docs
    *    — Σ bucket² counts distinct values per bucket, so the
    *    exact-duplicate head (identical fingerprints, the dominant
    *    mass of any dedup corpus, and the whole hot bucket under the
    *    skew probe) costs ONE row. Same-value doc pairs are all
    *    hamming 0 and all band-complete, so they re-enter as
    *    Σ c·(c−1) div 2 without touching any join; a cross-value
    *    pair {a,b} contributes c(a)·c(b) doc pairs with one shared
    *    XOR. Exact by construction — the unchanged oracle gates it.
    * 2. The round-13 multiplicity trick: a value pair whose XOR
    *    leaves m of the 4 bands untouched is emitted by the band
    *    join exactly m times, and m is computable from the XOR in
    *    the join projection; so instead of a pair-level DISTINCT
    *    (the first cut shuffled 9M candidate pairs and was the
    *    bench's slowest query), the histogram groups the raw join
    *    stream by (hamming, m) — a map-side-combinable aggregate
    *    with ≤ 33·4 cells — and recovers exact pair counts as
    *    Σ_m w(h, m) div m (each cell's weight sum is m·Σ pair
    *    weights by construction). */
  val dedupHammingHistogram: Q = (s, d) => {
    val nBands = 32 / SimhashBandBits
    // round-robin spread BEFORE the cut: the distinct-value rollup is
    // tiny in BYTES (AQE coalesces its exchange to ~1 partition), but
    // the band self-join's OUTPUT over it is quadratic per bucket —
    // left on the coalesced layout the pair enumeration runs in one
    // task (measured: 10.3 -> 56.7 s at sf1). An explicit
    // repartition(defaultParallelism) pins the leaf's task count to
    // the cluster's slots (scale-adaptive, not a local constant) and,
    // being ROUND-ROBIN rather than bucket-keyed, splits even a hot
    // bucket's probe rows across all tasks.
    val vals = docs(s, d)
      .withColumn("thashes", hashAll(tokens(col("text"))))
      .select(simhash32(col("thashes")).as("sh"))
      .groupBy(col("sh")).agg(count(lit(1)).as("c"))
      .repartition(s.sparkContext.defaultParallelism)
      .transform(graft.Checkpointing.cut)
    val bands = vals.select(col("sh"), col("c"),
        explode(array((0 until nBands).map(j =>
          struct(lit(j).as("band"),
            shiftrightunsigned(col("sh"), j * SimhashBandBits)
              .bitwiseAND(lit((1L << SimhashBandBits) - 1))
              .as("bv"))): _*)).as("b"))
      .select(col("sh"), col("c"),
        col("b.band").as("band"), col("b.bv").as("bv"))
    val mExpr = (0 until nBands).map(j =>
        s"(CASE WHEN ((x.sh ^ y.sh) >> ${j * SimhashBandBits}) " +
          s"& ${(1L << SimhashBandBits) - 1} = 0 THEN 1 ELSE 0 END)")
      .mkString("CAST(", " + ", " AS BIGINT)")
    // identical-fingerprint doc pairs: hamming 0, shared by all 4
    // bands — counted in closed form, never joined
    val same = vals.agg(coalesce(sum(expr("c * (c - 1) div 2")), lit(0L))
        .as("n_pairs"))
      .select(lit(0L).as("hamming"), col("n_pairs"))
      .filter(col("n_pairs") > 0L)
    val cross = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bv") === col("y.bv") &&
          col("x.sh") < col("y.sh"))
      .selectExpr("CAST(bit_count(x.sh ^ y.sh) AS BIGINT) AS hamming",
        s"$mExpr AS m", "x.c * y.c AS w")
      .filter(col("hamming") <= HammingHistMax)
      .groupBy(col("hamming"), col("m"))
      .agg(sum(col("w")).as("wsum"))
      .groupBy(col("hamming"))
      .agg(sum(expr("wsum div m")).as("n_pairs"))
    val hist = cross.unionByName(same)
      .groupBy(col("hamming"))
      .agg(sum(col("n_pairs")).as("n_pairs"))
    val w = Window.orderBy(col("hamming"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = hist.agg(sum(col("n_pairs")).as("total"))
    hist.withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      .crossJoin(broadcast(total))
      .select(col("hamming"), col("n_pairs"), col("cum_pairs"),
        (col("cum_pairs").cast("double") / col("total").cast("double"))
          .as("cum_share"))
      .orderBy("hamming")
  }

  /** The curation MANIFEST — the relation a training run actually
    * consumes: per document, the absolute keep/drop decision with its
    * first failing rule ([[TextOps.docKeepDecision]]), the near-dup
    * component and its leakage-free split ([[dedupSplitAssign]], off
    * the cached labeling), the per-language relative quality verdict
    * ([[TextOps.docQualityGate]]), and the final gate as their
    * conjunction. Three doc_id equi-joins; at 100 TB this is the one
    * materialization downstream writers filter
    * (`final_decision = 'keep'`) and partition by `split` — the audit
    * trail of why every document was kept or dropped. */
  val docManifest: Q = (s, d) =>
    TextOps.docKeepDecision(s, d)
      .select(col("doc_id"), col("decision"))
      .join(dedupSplitAssign(s, d)
        .select(col("doc_id"), col("component_id"), col("split")), "doc_id")
      .join(TextOps.docQualityGate(s, d)
        .select(col("doc_id"), col("quality"),
          col("verdict").as("quality_verdict")), "doc_id")
      .select(col("doc_id"), col("decision"), col("component_id"),
        col("split"), col("quality"), col("quality_verdict"),
        when(col("decision") === "keep" && col("quality_verdict") === "keep",
          "keep").otherwise("drop").as("final_decision"))
      .orderBy("doc_id")

  /** Split-quality check: per val/test document, the fraction of
    * token OCCURRENCES outside the train split's vocabulary — the
    * generalization-gap early warning (an eval split whose OOV rate
    * is ~0 against train usually means leakage; one near 1 means the
    * split captured a disjoint domain and eval loss will mislead).
    * Builds on the leakage-free cluster split, so near-dup leakage is
    * already excluded and what remains is genuine vocabulary overlap.
    * Scale shape: one explode + doc_id equi-join to splits, the train
    * vocab as a distinct combinable agg, one token equi-join (vocab ≪
    * corpus; at 100 TB both sides hash-partition on the token), one
    * per-doc count agg. */
  val docSplitOov: Q = (s, d) => {
    val sp = dedupSplitAssign(s, d).select(col("doc_id"), col("split"))
    val tok = docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .join(sp, "doc_id")
    val trainVocab = tok.filter(col("split") === "train")
      .select(col("tok")).distinct()
      .withColumn("in_train", lit(1L))
    tok.filter(col("split") =!= "train")
      .join(trainVocab, Seq("tok"), "left")
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_train").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("split"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
      .orderBy("doc_id")
  }

  /** LSH bucket-occupancy histogram: how many (band, bucket) cells
    * hold k documents, with the relative self-join cost k²·n — THE
    * salting monitor. Candidate generation costs Σ k² over buckets,
    * so a single hot bucket dominates the join; this report is what
    * triggers a bucket salt or band-rotation BEFORE the pair join
    * melts a stage (SURVEY §8 "hot keys"). Two combinable aggs over
    * the cached index relation — free observability. */
  val dedupBucketHistogram: Q = (s, d) =>
    buckets(s, d)
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_buckets"))
      .select(col("k"), col("n_buckets"),
        (col("k") * col("k") * col("n_buckets")).as("join_cost"))
      .orderBy("k")

  /** A chunk digest shared by more documents than this is boilerplate
    * (a header/footer/license block) — that family is detected and
    * removed by [[TextOps]]'s `text_boilerplate_*` queries, so the
    * substring tier skips it to keep pair generation bounded: the
    * per-digest pair count is ≤ [[MaxChunkDf]]²/2, so candidates are
    * ∝ Σ df² over rare digests, never all-pairs. */
  val MaxChunkDf = 64

  /** Minimum total shared bytes for a pair to count as a duplicated
    * passage — 3 expected chunks ([[graft.functions.CdcBoundaries]]
    * Divisor = 64 bytes), filtering out single-chunk coincidences. */
  val MinSharedBytes = 3 * graft.functions.CdcBoundaries.Divisor

  /** SUBSTRING-level dedup tier (`text_cdc_dedup`): long passages
    * duplicated across as few as TWO documents — the cross-doc
    * quote/mirror case that sits below the boilerplate df-gate
    * (frequent spans only) and above the doc-level shingle tiers'
    * resolution (whole-document similarity). Reuses the
    * content-defined chunker ([[graft.functions.CdcBoundaries]], the
    * `mm_cdc_*` machinery) on the UTF-8 text bytes: CDC boundaries
    * re-synchronize past edits, so a shared passage chunks
    * identically in both documents regardless of what surrounds it.
    *
    * Shape for 100 TB: boundary scan + slice + md5 are one narrow
    * codegen'd pass over the scan partition — text NEVER reaches an
    * exchange (PlanSpec-pinned); the shuffles carry only (doc_id,
    * 16-byte digest, length). Pairs are generated per-digest from the
    * grouped doc list with the [[MaxChunkDf]] cap, the same
    * Σ bucket² discipline as the LSH tier — no self-join, no
    * quadratic blow-up on a hot digest. */
  /** The CDC shared-chunk pair relation (doc_a, doc_b,
    * n_shared_chunks, shared_bytes) — `text_cdc_dedup`'s body,
    * exposed because it is also the small-in-big candidate generator
    * for [[dedupContainment]] (a doc pasted inside a larger one
    * shares its CDC chunks even when its Jaccard — and therefore its
    * LSH collision probability — is low). */
  private[graft] def cdcSharedPairs(
      s: SparkSession, d: String): DataFrame = {
    // the persisted chunk store ([[MultimodalOps.chunkStore]]) is the
    // scan side; a chunk repeated WITHIN a doc counts once toward
    // sharing
    val perDoc = MultimodalOps.chunkStore(s, d)
      .groupBy(col("doc_id"), col("chunk_md5"))
      .agg(min(col("chunk_len")).as("chunk_len"))
    // per-digest sorted doc list → unordered pairs, capped at MaxChunkDf
    val pairs = perDoc
      .groupBy(col("chunk_md5"))
      .agg(min(col("chunk_len")).as("chunk_len"),
        sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")).between(2, MaxChunkDf))
      .select(col("chunk_len"),
        explode(flatten(transform(col("ds"), (x, i) =>
          transform(
            slice(col("ds"), i + lit(2), size(col("ds")) - i - lit(1)),
            y => struct(x.as("doc_a"), y.as("doc_b")))))).as("p"))
    pairs
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_chunks"),
        sum(col("chunk_len")).as("shared_bytes"))
      .filter(col("shared_bytes") >= MinSharedBytes)
  }

  val textCdcDedup: Q = (s, d) =>
    cdcSharedPairs(s, d).orderBy("doc_a", "doc_b")

  /** Containment verdict threshold τ = [[ContainNum]]/[[ContainDen]]
    * (integer cross-multiplication on both engines, no double
    * compare): side X is "inside" the other when n_inter·Den ≥
    * n_X·Num. */
  val ContainNum = 4L
  val ContainDen = 5L

  /** ASYMMETRIC near-dup detection by shingle-set CONTAINMENT
    * (Broder's containment coefficient C(A,B) = |A∩B|/|A|) — the
    * duplicate class Jaccard structurally misses: a short document
    * pasted inside a long one has J = |A|/|B| → 0 as the host grows,
    * but C(A, B) = 1. Candidates are the UNION of two generators,
    * each covering the other's blind spot: LSH pairs (symmetric
    * near-dups) and CDC shared-chunk pairs ([[cdcSharedPairs]] —
    * shared rare chunks survive any size imbalance, so the
    * small-in-big pair IS a candidate even though no LSH bucket
    * fires). Verification is the exact distinct-shingle intersection
    * equi-join of [[dedupJaccard]] (cost ∝ candidates, never
    * all-pairs); verdicts classify each pair `mutual` / `a_in_b` /
    * `b_in_a` / `partial` at τ = 4/5. Pairs where either side has
    * < 3 tokens (no shingle set) are out of scope — the CDC/exact
    * tiers own those. */
  val dedupContainment: Q = (s, d) => {
    val lsh = lshCandidatePairs(s, d).select(col("doc_a"), col("doc_b"))
    val cdc = cdcSharedPairs(s, d).select(col("doc_a"), col("doc_b"))
    val cand = lsh.unionByName(cdc).distinct().transform(graft.Checkpointing.cut)
    // The [[jaccardScored]] members-semi-join + shingle cut was
    // MEASURED here and rejected (round 15, probe protocol at 10×
    // rows: 6.8 s → 8.2–10.6 s): unlike the LSH-only verifier, this
    // tier's candidate union includes the CDC shared-chunk pairs,
    // whose endpoints blanket most of the corpus — the semi-join
    // filters almost nothing while the cut materializes a
    // corpus-sized exploded-shingle relation, costing more than the
    // four column-pruned re-scans it saves (the q16 scan-vs-cut
    // trade, on the scan side this time).
    val sh = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(array_distinct(shingles(col("toks")))).as("sh"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    cand
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        col("za.n").as("n_a"), col("zb.n").as("n_b"),
        (col("n_inter").cast("double") / col("za.n").cast("double"))
          .as("contain_a"),
        (col("n_inter").cast("double") / col("zb.n").cast("double"))
          .as("contain_b"),
        when(col("n_inter") * ContainDen >= col("za.n") * ContainNum &&
            col("n_inter") * ContainDen >= col("zb.n") * ContainNum,
          "mutual")
          .when(col("n_inter") * ContainDen >= col("za.n") * ContainNum,
            "a_in_b")
          .when(col("n_inter") * ContainDen >= col("zb.n") * ContainNum,
            "b_in_a")
          .otherwise("partial").as("verdict"))
      .orderBy("doc_a", "doc_b")
  }

  /** Token-window width for [[dedupSubstringSpans]]. Lee et al.
    * (arXiv:2107.06499) use 50 BPE tokens on web corpora; the
    * testdata's documents run 10–99 whitespace tokens (median 56), so
    * 8 keeps the same "long enough that chance collisions vanish,
    * short enough to catch partial overlap" regime at this scale. */
  val SpanW = 8

  /** Corpus-level duplicated-SPAN report (`dedup_substring_spans`) —
    * the exact-substring tier of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better" (arXiv:2107.06499): for every
    * doc, the maximal token spans whose every [[SpanW]]-token window
    * also occurs in at least one OTHER document. This is the per-doc,
    * corpus-frequency complement of the pairwise CDC chunk tier
    * (`text_cdc_dedup`): CDC answers "which PAIRS share rare byte
    * runs"; this answers "how much of EACH doc is corpus-duplicated
    * text" — the number that drives Lee et al.'s span-removal policy
    * (vs whole-doc dropping, which loses the unique remainder).
    *
    * Plan shape (the 100 TB story): window hashes are one codegen'd
    * per-row pass ([[graft.functions.WordNgrams]] +
    * [[graft.functions.PolyCharHashArray]]) posexploded to O(tokens)
    * rows; "duplicated" is one map-side-combinable groupBy on the
    * window hash (distinct-doc count ≥ 2); positions semi-join the
    * duplicated-hash set (hash-partitioned equi-join, never
    * broadcast-sized assumptions); span merging is gaps-and-islands
    * with windows partitioned BY DOC (bounded by doc length — no
    * global window anywhere). Two duplicated windows merge iff their
    * token coverage overlaps or abuts (start distance ≤ [[SpanW]]),
    * so ANY intervening unique token keeps spans separate; a span's
    * token coverage is last−first+W. The window hash is the ~62-bit
    * dual-base [[graft.functions.Hashing.hashAllWide]] — the 31-bit
    * hash would mint ~12 birthday-collision false dups at the sf0.1
    * bench's 226k windows, and ~10³ at sf1.
    * Output keeps integer token counts (dup_tokens / n_tokens) so the
    * gate stays hash-exact; the removal fraction is a consumer-side
    * division. Docs with no duplicated window emit no row. */
  val dedupSubstringSpans: Q = (s, d) => {
    val toks = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .filter(size(col("toks")) >= SpanW)
      .select(col("doc_id"), col("toks"))
    val wins = toks
      .select(col("doc_id"),
        posexplode(hashAllWide(ngrams(col("toks"), SpanW))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("wh"))
    val dup = wins.groupBy("wh")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("wh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val spans = wins.join(dup, "wh")
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > SpanW, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("fp"), max("pos").as("lp"),
        count(lit(1)).as("nw"))
      .withColumn("span_tokens", col("lp") - col("fp") + SpanW)
    spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum("nw").as("n_dup_windows"),
        sum("span_tokens").as("dup_tokens"),
        max("span_tokens").as("longest_span"))
      .join(toks.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens")), Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("n_dup_windows"), col("dup_tokens"), col("longest_span"))
      .orderBy("doc_id")
  }

  /** REMOVAL pass of the substring-span tier (`dedup_spans_remove`)
    * — the enforcement [[dedupSubstringSpans]] reports on, following
    * Lee et al.'s policy of excising duplicated spans while KEEPING
    * one canonical occurrence in the corpus (dropping whole docs
    * would lose their unique remainder). Ownership is decided at
    * window granularity: each duplicated [[SpanW]]-token window's
    * canonical holder is its MIN doc_id; a token is removed iff some
    * duplicated window covering it is owned elsewhere, so the
    * min-holder keeps its copy and every other doc sheds exactly the
    * corpus-duplicated tokens (ties inside overlapping window
    * families resolve deterministically toward keeping less —
    * removal needs only ONE foreign-owned cover). Output ships the
    * reconstructed cleaned text so the gate hashes the actual
    * enforcement, not a count. Plan shape: windows and owners as in
    * the report query; coverage is an O(tokens·W) position explode
    * semi-joined per (doc, position); reconstruction sorts each
    * doc's kept tokens by position (per-doc arrays, bounded by doc
    * length — the one higher-order `transform` runs in the O(docs)
    * output assembly, not the candidate hot path). */
  val dedupSpansRemove: Q = (s, d) => {
    val toks = docs(s, d)
      .withColumn("toks", tokens(col("text")))
      .select(col("doc_id"), col("toks"))
    val wins = toks
      .filter(size(col("toks")) >= SpanW)
      .select(col("doc_id"),
        posexplode(hashAllWide(ngrams(col("toks"), SpanW))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("wh"))
    val owners = wins.groupBy("wh")
      .agg(min(col("doc_id")).as("owner"),
        count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("wh"), col("owner"))
    val removed = wins.join(owners, "wh")
      .filter(col("doc_id") =!= col("owner"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanW - 1)))
          .as("tpos"))
      .distinct()
    val positions = toks
      .select(col("doc_id"), posexplode(col("toks")))
      .select(col("doc_id"),
        (col("pos") + 1).cast("long").as("tpos"), col("col").as("tok"))
    val kept = positions
      .join(removed, Seq("doc_id", "tpos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          x => x.getField("tok")), " ").as("cleaned_text"))
    // left join from the doc base so fully-excised and empty docs
    // still emit a row (with empty cleaned text)
    toks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L)))
          .as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .orderBy("doc_id")
  }

  val defs: Map[String, Q] = Map(
    "dedup_spans_remove" -> dedupSpansRemove,
    "text_cdc_dedup" -> textCdcDedup,
    "doc_manifest" -> docManifest,
    "doc_split_oov" -> docSplitOov,
    "dedup_bucket_histogram" -> dedupBucketHistogram,
    "dedup_exact" -> dedupExact,
    "dedup_normalized" -> dedupNormalized,
    "dedup_unicode" -> dedupUnicode,
    "dedup_minhash_sig" -> dedupMinhashSig,
    "dedup_lsh_pairs" -> dedupLshPairs,
    "dedup_lsh_precision" -> dedupLshPrecision,
    "dedup_jaccard" -> dedupJaccard,
    "dedup_char_ngram" -> dedupCharNgram,
    "dedup_edit_distance" -> dedupEditDistance,
    "dedup_damerau" -> dedupDamerau,
    "dedup_jaro_winkler" -> dedupJaroWinkler,
    "dedup_sorted_neighborhood" -> dedupSortedNeighborhood,
    "dedup_sorted_neighborhood_audit" -> dedupSortedNeighborhoodAudit,
    "dedup_sn_prune_audit" -> dedupSnPruneAudit,
    "dedup_jaccard_prune_audit" -> dedupJaccardPruneAudit,
    "dedup_sn_multipass" -> dedupSnMultipass,
    "dedup_blocking_overlap" -> dedupBlockingOverlap,
    "dedup_edit_banded" -> dedupEditBanded,
    "dedup_simhash_clusters" -> dedupSimhashClusters,
    "dedup_hamming_histogram" -> dedupHammingHistogram,
    "dedup_components" -> dedupComponents,
    "dedup_survivor" -> dedupSurvivor,
    "dedup_component_profile" -> dedupComponentProfile,
    "dedup_split_assign" -> dedupSplitAssign,
    "dedup_savings" -> dedupSavings,
    "dedup_cross_source" -> dedupCrossSource,
    "dedup_incremental" -> dedupIncremental,
    "dedup_delta_probe" -> dedupDeltaProbe,
    "dedup_index_merge" -> dedupIndexMerge,
    "dedup_index_compact" -> dedupIndexCompact,
    "dedup_index_rewrite" -> dedupIndexRewrite,
    "dedup_index_stats" -> dedupIndexStats,
    "dedup_components_delta" -> dedupComponentsDelta,
    "doc_snapshot_diff" -> docSnapshotDiff,
    "doc_snapshot_drift" -> docSnapshotDrift,
    "text_cdc_remove" -> textCdcRemove,
    "dedup_minhash_est" -> dedupMinhashEst,
    "dedup_bbit_minhash" -> dedupBbitMinhash,
    "dedup_weighted_jaccard" -> dedupWeightedJaccard,
    "dedup_keep_best" -> dedupKeepBest,
    "dedup_containment" -> dedupContainment,
    "dedup_substring_spans" -> dedupSubstringSpans)

  /** CDC shared-chunk pair CTE block (`b`/`se`/`ch`/`pd`/`el`/`cdcp`)
    * — the oracle mirror of [[cdcSharedPairs]], shared by
    * `text_cdc_dedup` and `dedup_containment`. Same O(n·W)
    * window-fold boundary mirror as the mm_cdc_* oracles
    * (MultimodalOps) — ASCII corpus ⇒ byte == ascii(char). */
  private def sqlCdcPairCtes: String = {
    val W = graft.functions.CdcBoundaries.Window
    val D = graft.functions.CdcBoundaries.Divisor
    val bl = "CAST(octet_length(encode(text)) AS BIGINT)"
    s"""b AS (
            SELECT doc_id, text, $bl AS n,
              list_filter(range($W, $bl),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % ${graft.functions.Hashing.P})
                     % $D = 0) AS bs
            FROM documents WHERE $bl > 0),
          se AS (
            SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ch AS (
            SELECT doc_id,
              md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5,
              ends[i] - starts[i] AS chunk_len
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                      AS i
                  FROM se) z),
          pd AS (
            SELECT doc_id, chunk_md5, MIN(chunk_len) AS chunk_len
            FROM ch GROUP BY doc_id, chunk_md5),
          el AS (
            SELECT chunk_md5, MIN(chunk_len) AS chunk_len
            FROM pd GROUP BY chunk_md5
            HAVING COUNT(*) BETWEEN 2 AND $MaxChunkDf),
          cdcp AS (
            SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
              COUNT(*) AS n_shared_chunks,
              CAST(SUM(e.chunk_len) AS BIGINT) AS shared_bytes
            FROM el e
            JOIN pd x ON x.chunk_md5 = e.chunk_md5
            JOIN pd y ON y.chunk_md5 = e.chunk_md5 AND x.doc_id < y.doc_id
            GROUP BY doc_a, doc_b
            HAVING SUM(e.chunk_len) >= $MinSharedBytes)"""
  }

  /** Recursive CTE mirror of [[components]]: min reachable doc_id via
    * transitive closure (fine at oracle scale; the Spark side is the
    * scalable formulation). */
  private def sqlComponents: String =
    s"""pairs AS (
          SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
          FROM buckets x JOIN buckets y
            ON x.band = y.band AND x.bucket = y.bucket
               AND x.doc_id < y.doc_id),
        edges AS (
          SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach AS (
          SELECT doc_id AS src, doc_id AS dst FROM documents
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
        comp AS (
          SELECT src AS doc_id, MIN(dst) AS component_id
          FROM reach GROUP BY src)"""

  /** Batch oracle for [[StreamOps]]'s `stream_neardup_candidates`:
    * incoming (is_new) docs' bucket rows joined against the corpus
    * side, same tag rule as `dedup_incremental`. */
  private[operators] def sqlNeardupCandidates: String =
    s"""WITH $sqlSignatures, $sqlBuckets,
        tagged AS (
          SELECT doc_id,
            ${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10 = 7 AS is_new
          FROM documents)
        SELECT x.doc_id, x.band, x.bucket, y.doc_id AS cand_id
        FROM buckets x
        JOIN tagged tx ON x.doc_id = tx.doc_id AND tx.is_new
        JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
        JOIN tagged ty ON y.doc_id = ty.doc_id AND NOT ty.is_new
        ORDER BY x.doc_id, x.band, x.bucket, y.doc_id"""

  /** Batch oracle for [[StreamOps]]'s `stream_cdc_strip`: incoming
    * (is_new) docs re-chunked, every chunk whose digest exists on the
    * corpus side (non-new docs, df ≤ [[MaxChunkDf]]) stripped, kept
    * chunks reassembled in position order — the within-document E6
    * route: strip the duplicated passage, admit the rest.
    *
    * ADDRESSING INVARIANT (applies to every CDC oracle in this file
    * and [[MultimodalOps]]'s store oracles): the engine chunks and
    * slices UTF-8 BYTES (binary substring over `encode`d payloads),
    * but DuckDB v1.0.0 has no BLOB substring/md5, so these oracles
    * index CHARACTERS (`text[j]`, character `substring`) at
    * byte-derived offsets. The two conventions coincide iff the
    * oracle-gated corpus is pure ASCII — which the generated
    * `documents` tables are at every SF, and which
    * AsciiInvariantSpec asserts so a future non-ASCII fixture fails
    * loudly in the suite rather than silently diverging at the gate.
    * (The ENGINE itself is byte-correct for arbitrary UTF-8 —
    * SubstrDedupSpec round-trips a multi-byte doc through
    * cdcStripAgainst; only the DuckDB side of the comparison needs
    * the ASCII restriction.) */
  private[graft] def sqlCdcStrip: String = {
    val W = graft.functions.CdcBoundaries.Window
    val D = graft.functions.CdcBoundaries.Divisor
    val bl = "CAST(octet_length(encode(text)) AS BIGINT)"
    s"""WITH b AS (
          SELECT doc_id, text, $bl AS n,
            list_filter(range($W, $bl),
              o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(o - $W + 1, o + 1),
                       j -> CAST(ascii(text[j]) AS BIGINT))),
                     (h, c) -> (h * 31 + c) % ${graft.functions.Hashing.P})
                   % $D = 0) AS bs
          FROM documents WHERE $bl > 0),
        se AS (
          SELECT doc_id, text,
            list_prepend(CAST(0 AS BIGINT), bs) AS starts,
            list_append(bs, n) AS ends
          FROM b),
        ch AS (
          SELECT doc_id, i,
            substring(text, CAST(starts[i] + 1 AS BIGINT),
              CAST(ends[i] - starts[i] AS BIGINT)) AS txt,
            md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
              CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5
          FROM (SELECT doc_id, text, starts, ends,
                  unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                    AS i
                FROM se) z),
        tagged AS (
          SELECT doc_id,
            ${graft.functions.Hashing
              .sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10 = 7 AS is_new
          FROM documents),
        corpus AS (
          SELECT c.chunk_md5
          FROM ch c JOIN tagged t ON c.doc_id = t.doc_id AND NOT t.is_new
          GROUP BY c.chunk_md5
          HAVING COUNT(DISTINCT c.doc_id) <= $MaxChunkDf),
        strip AS (
          SELECT c.doc_id, c.i, c.txt, (k.chunk_md5 IS NULL) AS keep
          FROM ch c
          JOIN tagged t ON c.doc_id = t.doc_id AND t.is_new
          LEFT JOIN corpus k ON c.chunk_md5 = k.chunk_md5),
        roll AS (
          SELECT doc_id,
            COUNT(*) AS n_chunks,
            CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
            COALESCE(string_agg(txt, '' ORDER BY i)
              FILTER (WHERE keep), '') AS clean_text
          FROM strip GROUP BY doc_id)
        SELECT doc_id, n_chunks, n_kept, clean_text,
          CAST(length(clean_text) AS BIGINT) AS clean_len
        FROM roll ORDER BY doc_id"""
  }

  /** The SN oracle: always the GLOBAL window (the semantics), shared
    * by the production (sharded) and audit registrations. */
  private lazy val sqlSortedNeighborhood: String = {
    val leads = (1 to SnWindow)
      .map(k => s"lead(doc_id, $k) OVER w AS n$k").mkString(", ")
    val unnestList = (1 to SnWindow).map(k => s"n$k").mkString("[", ", ", "]")
    s"""WITH k AS (
          SELECT doc_id, text,
            substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
              1, $SnKeyLen) AS skey
          FROM documents
          WHERE length(text) <= $EditMaxLen),
        o AS (
          SELECT doc_id, $leads
          FROM k WINDOW w AS (ORDER BY skey, doc_id)),
        p AS (
          SELECT doc_id AS doc_a, unnest($unnestList) AS doc_b
          FROM o)
        SELECT p.doc_a, p.doc_b,
          jaro_winkler_similarity(da.text, db.text) AS jw,
          CASE WHEN jaro_winkler_similarity(da.text, db.text) >= 0.9
            THEN 'dup' ELSE 'distinct' END AS verdict
        FROM p
        JOIN documents da ON p.doc_a = da.doc_id
        JOIN documents db ON p.doc_b = db.doc_id
        WHERE p.doc_b IS NOT NULL
          AND ${sqlJwFeasible("da.text", "db.text")}
        ORDER BY doc_a, doc_b"""
  }

  /** The prune-audit oracle: the textbook GLOBAL window (the
    * sharded generator's semantics spec), bound arithmetic in the
    * identical double tree (0.8 + 0.2·(min/max) on byte lengths). */
  private lazy val sqlSnPruneAudit: String = {
    val leads = (1 to SnWindow)
      .map(k => s"lead(doc_id, $k) OVER w AS n$k").mkString(", ")
    val unnestList = (1 to SnWindow).map(k => s"n$k").mkString("[", ", ", "]")
    val mn = "least(strlen(da.text), strlen(db.text))"
    val mx = "greatest(strlen(da.text), strlen(db.text))"
    s"""WITH k AS (
          SELECT doc_id, text,
            substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
              1, $SnKeyLen) AS skey
          FROM documents
          WHERE length(text) <= $EditMaxLen),
        o AS (
          SELECT doc_id, $leads
          FROM k WINDOW w AS (ORDER BY skey, doc_id)),
        p AS (
          SELECT doc_id AS doc_a, unnest($unnestList) AS doc_b
          FROM o),
        pr AS (
          SELECT CASE WHEN 2 * $mn >= $mx THEN 'kept' ELSE 'pruned' END
              AS tag,
            0.8 + 0.2 * (CAST($mn AS DOUBLE) / CAST($mx AS DOUBLE))
              AS jw_bound
          FROM p
          JOIN documents da ON p.doc_a = da.doc_id
          JOIN documents db ON p.doc_b = db.doc_id
          WHERE p.doc_b IS NOT NULL),
        ag AS (
          SELECT tag, COUNT(*) AS n_pairs, MAX(jw_bound) AS max_jw_bound
          FROM pr GROUP BY tag)
        SELECT tag, n_pairs, max_jw_bound,
          CAST(n_pairs AS DOUBLE) /
            CAST((SELECT SUM(n_pairs) FROM ag) AS DOUBLE) AS share
        FROM ag ORDER BY tag"""
  }

  /** The multi-pass SN oracle: one global window per sort key,
    * (min,max)-normalized union with pass provenance, one JW verify
    * — like [[sqlSortedNeighborhood]] twice plus the alignment. */
  private lazy val sqlSnMultipass: String = {
    def pass(keyExpr: String, cte: String) = {
      val leads = (1 to SnWindow)
        .map(k => s"lead(doc_id, $k) OVER w AS n$k").mkString(", ")
      val unnestList = (1 to SnWindow).map(k => s"n$k")
        .mkString("[", ", ", "]")
      s"""${cte}o AS (
            SELECT doc_id, $leads
            FROM (SELECT doc_id, $keyExpr AS skey FROM el)
            WINDOW w AS (ORDER BY skey, doc_id)),
          ${cte}p AS (
            SELECT least(doc_id, nb) AS doc_a,
              greatest(doc_id, nb) AS doc_b
            FROM (SELECT doc_id, unnest($unnestList) AS nb FROM ${cte}o)
            WHERE nb IS NOT NULL)"""
    }
    val norm = "lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g'))"
    s"""WITH el AS (
          SELECT doc_id, text FROM documents
          WHERE length(text) <= $EditMaxLen),
        ${pass(s"substr($norm, 1, $SnKeyLen)", "hd")},
        ${pass(s"substr(reverse($norm), 1, $SnKeyLen)", "tl")},
        ap AS (
          SELECT COALESCE(h.doc_a, t.doc_a) AS doc_a,
            COALESCE(h.doc_b, t.doc_b) AS doc_b,
            CASE WHEN h.doc_a IS NOT NULL AND t.doc_a IS NOT NULL
                THEN 'both'
              WHEN h.doc_a IS NOT NULL THEN 'head_only'
              ELSE 'tail_only' END AS passes
          FROM hdp h FULL OUTER JOIN tlp t
            ON h.doc_a = t.doc_a AND h.doc_b = t.doc_b)
        SELECT ap.doc_a, ap.doc_b, ap.passes,
          jaro_winkler_similarity(da.text, db.text) AS jw,
          CASE WHEN jaro_winkler_similarity(da.text, db.text) >= 0.9
            THEN 'dup' ELSE 'distinct' END AS verdict
        FROM ap
        JOIN documents da ON ap.doc_a = da.doc_id
        JOIN documents db ON ap.doc_b = db.doc_id
        WHERE ${sqlJwFeasible("da.text", "db.text")}
        ORDER BY doc_a, doc_b"""
  }

  // lazy: oracle strings interpolate constants from SIBLING operator
  // objects (TextOps -> SimilarityOps.Dims, SimilarityOps -> DedupOps
  // delta constants, DedupOps -> TextOps.oracle), so eager init here
  // would make the map's value depend on which object the JVM
  // happened to initialize first (a mid-cycle read sees null). Lazy
  // defers interpolation past every clinit.
  lazy val oracle: Map[String, String] = Map(
    "dedup_spans_remove" -> {
      val winText = s"array_to_string(list_slice(tk, i, i + ${SpanW - 1}), ' ')"
      s"""WITH toks AS (
            SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents),
          wins AS (
            SELECT doc_id, i AS pos, ${sqlCharHashWide(winText)} AS wh
            FROM (SELECT doc_id, tk,
                    unnest(range(1, length(tk) - ${SpanW - 2})) AS i
                  FROM toks WHERE length(tk) >= $SpanW)),
          owners AS (
            SELECT wh, MIN(doc_id) AS owner FROM wins GROUP BY wh
            HAVING COUNT(DISTINCT doc_id) >= 2),
          removed AS (
            SELECT DISTINCT w.doc_id, tpos
            FROM wins w JOIN owners o USING (wh),
              unnest(range(w.pos, w.pos + $SpanW)) AS r(tpos)
            WHERE w.doc_id != o.owner),
          positions AS (
            SELECT doc_id, CAST(i AS BIGINT) AS tpos, tk[i] AS tok
            FROM (SELECT doc_id, tk,
                    unnest(range(1, length(tk) + 1)) AS i
                  FROM toks)),
          kept AS (
            SELECT p.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
              string_agg(p.tok, ' ' ORDER BY p.tpos) AS cleaned_text
            FROM positions p
            ANTI JOIN removed r
              ON p.doc_id = r.doc_id AND p.tpos = r.tpos
            GROUP BY p.doc_id)
          SELECT t.doc_id, CAST(length(t.tk) AS BIGINT) AS n_tokens,
            CAST(length(t.tk) - COALESCE(k.n_kept, 0) AS BIGINT)
              AS n_removed,
            COALESCE(k.cleaned_text, '') AS cleaned_text
          FROM toks t LEFT JOIN kept k ON t.doc_id = k.doc_id
          ORDER BY t.doc_id""" },
    "dedup_substring_spans" -> {
      val winText = s"array_to_string(list_slice(tk, i, i + ${SpanW - 1}), ' ')"
      s"""WITH toks AS (
            SELECT doc_id, ${sqlTokens("text")} AS tk FROM documents
            WHERE length(${sqlTokens("text")}) >= $SpanW),
          wins AS (
            SELECT doc_id, i AS pos, ${sqlCharHashWide(winText)} AS wh
            FROM (SELECT doc_id, tk,
                    unnest(range(1, length(tk) - ${SpanW - 2})) AS i
                  FROM toks)),
          dup AS (
            SELECT wh FROM wins GROUP BY wh
            HAVING COUNT(DISTINCT doc_id) >= 2),
          hits AS (
            SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (wh)),
          isl AS (
            SELECT doc_id, pos,
              CASE WHEN lag(pos) OVER dw IS NULL
                     OR pos - lag(pos) OVER dw > $SpanW
                   THEN 1 ELSE 0 END AS brk
            FROM hits
            WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)),
          isl2 AS (
            SELECT doc_id, pos,
              SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM isl),
          spans AS (
            SELECT doc_id, island, MIN(pos) AS fp, MAX(pos) AS lp,
              COUNT(*) AS nw
            FROM isl2 GROUP BY doc_id, island)
          SELECT s.doc_id, CAST(length(t.tk) AS BIGINT) AS n_tokens,
            CAST(COUNT(*) AS BIGINT) AS n_spans,
            CAST(SUM(s.nw) AS BIGINT) AS n_dup_windows,
            CAST(SUM(s.lp - s.fp + $SpanW) AS BIGINT) AS dup_tokens,
            CAST(MAX(s.lp - s.fp + $SpanW) AS BIGINT) AS longest_span
          FROM spans s JOIN toks t USING (doc_id)
          GROUP BY s.doc_id, t.tk
          ORDER BY s.doc_id""" },
    "text_cdc_dedup" ->
      s"""WITH $sqlCdcPairCtes
          SELECT doc_a, doc_b, n_shared_chunks, shared_bytes
          FROM cdcp ORDER BY doc_a, doc_b""",
    "dedup_containment" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          $sqlCdcPairCtes,
          allp AS (
            SELECT doc_a, doc_b FROM pairs
            UNION
            SELECT doc_a, doc_b FROM cdcp),
          sh AS (
            SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS sh
            FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
            WHERE length(toks) >= 3),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          inter AS (
            SELECT doc_a, doc_b, COUNT(*) AS n_inter
            FROM allp
            JOIN sh sa ON doc_a = sa.doc_id
            JOIN sh sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
            GROUP BY doc_a, doc_b)
          SELECT p.doc_a, p.doc_b,
            CAST(COALESCE(i.n_inter, 0) AS BIGINT) AS n_inter,
            CAST(za.n AS BIGINT) AS n_a,
            CAST(zb.n AS BIGINT) AS n_b,
            CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
              / CAST(za.n AS DOUBLE) AS contain_a,
            CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
              / CAST(zb.n AS DOUBLE) AS contain_b,
            CASE
              WHEN COALESCE(i.n_inter, 0) * $ContainDen
                     >= za.n * $ContainNum
                   AND COALESCE(i.n_inter, 0) * $ContainDen
                     >= zb.n * $ContainNum THEN 'mutual'
              WHEN COALESCE(i.n_inter, 0) * $ContainDen
                     >= za.n * $ContainNum THEN 'a_in_b'
              WHEN COALESCE(i.n_inter, 0) * $ContainDen
                     >= zb.n * $ContainNum THEN 'b_in_a'
              ELSE 'partial' END AS verdict
          FROM allp p
          LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
          JOIN sizes za ON p.doc_a = za.doc_id
          JOIN sizes zb ON p.doc_b = zb.doc_id
          ORDER BY 1, 2""",
    "text_cdc_remove" -> {
      val W = graft.functions.CdcBoundaries.Window
      val D = graft.functions.CdcBoundaries.Divisor
      val bl = "CAST(octet_length(encode(text)) AS BIGINT)"
      s"""WITH b AS (
            SELECT doc_id, text, $bl AS n,
              list_filter(range($W, $bl),
                o -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(range(o - $W + 1, o + 1),
                         j -> CAST(ascii(text[j]) AS BIGINT))),
                       (h, c) -> (h * 31 + c) % ${graft.functions.Hashing.P})
                     % $D = 0) AS bs
            FROM documents WHERE $bl > 0),
          se AS (
            SELECT doc_id, text,
              list_prepend(CAST(0 AS BIGINT), bs) AS starts,
              list_append(bs, n) AS ends
            FROM b),
          ch AS (
            SELECT doc_id, i,
              substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT)) AS txt,
              md5(substring(text, CAST(starts[i] + 1 AS BIGINT),
                CAST(ends[i] - starts[i] AS BIGINT))) AS chunk_md5
            FROM (SELECT doc_id, text, starts, ends,
                    unnest(range(1, CAST(length(starts) + 1 AS BIGINT)))
                      AS i
                  FROM se) z),
          owners AS (
            SELECT chunk_md5, MIN(doc_id) AS owner
            FROM ch GROUP BY chunk_md5
            HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND $MaxChunkDf),
          tagged AS (
            SELECT c.doc_id, c.i, c.txt,
              (o.owner IS NULL OR o.owner = c.doc_id) AS keep
            FROM ch c LEFT JOIN owners o ON c.chunk_md5 = o.chunk_md5),
          roll AS (
            SELECT doc_id,
              COUNT(*) AS n_chunks,
              CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
              COALESCE(string_agg(txt, '' ORDER BY i)
                FILTER (WHERE keep), '') AS clean_text
            FROM tagged GROUP BY doc_id)
          SELECT doc_id, n_chunks, n_kept, clean_text,
            CAST(length(clean_text) AS BIGINT) AS clean_len
          FROM roll ORDER BY doc_id"""
    },
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
         FROM documents GROUP BY text ORDER BY canonical_id""",
    "dedup_normalized" ->
      """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
         FROM documents
         GROUP BY regexp_replace(trim(lower(text)), ' +', ' ', 'g')
         ORDER BY canonical_id""",
    "dedup_unicode" ->
      """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies,
           COUNT(DISTINCT text) AS n_byte_forms
         FROM documents
         GROUP BY nfc_normalize(text)
         ORDER BY canonical_id""",
    "dedup_minhash_sig" ->
      s"""WITH $sqlSignatures SELECT * FROM sig ORDER BY doc_id""",
    "dedup_lsh_pairs" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs
          SELECT doc_a, doc_b FROM pairs
          ORDER BY doc_a, doc_b""",
    "dedup_jaccard" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          sh AS (
            SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS sh
            FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
            WHERE length(toks) >= 3),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          feas AS (
            SELECT p.doc_a, p.doc_b, za.n AS na, zb.n AS nb
            FROM pairs p
            JOIN sizes za ON p.doc_a = za.doc_id
            JOIN sizes zb ON p.doc_b = zb.doc_id
            WHERE ${sqlJaccardFeasible("za.n", "zb.n")}),
          inter AS (
            SELECT doc_a, doc_b, COUNT(*) AS n_inter
            FROM feas
            JOIN sh sa ON doc_a = sa.doc_id
            JOIN sh sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
            GROUP BY doc_a, doc_b)
          SELECT f.doc_a, f.doc_b,
            COALESCE(i.n_inter, 0) AS n_inter,
            f.na + f.nb - COALESCE(i.n_inter, 0) AS n_union,
            CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
              / CAST(f.na + f.nb - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
          FROM feas f
          LEFT JOIN inter i ON f.doc_a = i.doc_a AND f.doc_b = i.doc_b
          ORDER BY 1, 2""",
    "dedup_jaccard_prune_audit" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          sh AS (
            SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS sh
            FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
            WHERE length(toks) >= 3),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          pr AS (
            SELECT CASE WHEN ${sqlJaccardFeasible("za.n", "zb.n")}
                THEN 'kept' ELSE 'pruned' END AS tag,
              CAST(least(za.n, zb.n) AS DOUBLE) /
                CAST(greatest(za.n, zb.n) AS DOUBLE) AS j_bound
            FROM pairs p
            JOIN sizes za ON p.doc_a = za.doc_id
            JOIN sizes zb ON p.doc_b = zb.doc_id),
          ag AS (
            SELECT tag, COUNT(*) AS n_pairs, MAX(j_bound) AS max_j_bound
            FROM pr GROUP BY tag)
          SELECT tag, n_pairs, max_j_bound,
            CAST(n_pairs AS DOUBLE) /
              CAST((SELECT SUM(n_pairs) FROM ag) AS DOUBLE) AS share
          FROM ag ORDER BY tag""",
    "dedup_lsh_precision" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          sh AS (
            SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS sh
            FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
            WHERE length(toks) >= 3),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          inter AS (
            SELECT doc_a, doc_b, COUNT(*) AS n_inter
            FROM pairs
            JOIN sh sa ON doc_a = sa.doc_id
            JOIN sh sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
            GROUP BY doc_a, doc_b),
          jac AS (
            SELECT CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
              / CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE) AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
            JOIN sizes za ON p.doc_a = za.doc_id
            JOIN sizes zb ON p.doc_b = zb.doc_id),
          th AS (SELECT CAST(unnest([0.5, 0.6, 0.7, 0.8, 0.9]) AS DOUBLE)
            AS threshold)
          SELECT threshold, COUNT(*) AS n_candidates,
            CAST(SUM(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END)
              AS BIGINT) AS n_true,
            CAST(SUM(CASE WHEN jaccard >= threshold THEN 1 ELSE 0 END)
              AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS precision
          FROM jac, th GROUP BY threshold ORDER BY threshold""",
    "dedup_char_ngram" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          grams AS (
            SELECT doc_id, unnest(list_distinct(${sqlHashAll(
              "list_transform(range(1, length(text) - 3), i -> substr(text, i, 5))")}))
              AS gh
            FROM documents WHERE length(text) >= 5),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
          inter AS (
            SELECT doc_a, doc_b, COUNT(*) AS n_inter
            FROM pairs
            JOIN grams ga ON doc_a = ga.doc_id
            JOIN grams gb ON doc_b = gb.doc_id AND ga.gh = gb.gh
            GROUP BY doc_a, doc_b)
          SELECT p.doc_a, p.doc_b,
            COALESCE(i.n_inter, 0) AS n_inter,
            ca.n + cb.n - COALESCE(i.n_inter, 0) AS n_union,
            CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
              / CAST(ca.n + cb.n - COALESCE(i.n_inter, 0) AS DOUBLE)
              AS char_jaccard
          FROM pairs p
          LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
          JOIN sizes ca ON p.doc_a = ca.doc_id
          JOIN sizes cb ON p.doc_b = cb.doc_id
          ORDER BY 1, 2""",
    "dedup_minhash_est" -> {
      val laneSum = (0 until K)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          sh AS (
            SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS sh
            FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
            WHERE length(toks) >= 3),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          inter AS (
            SELECT doc_a, doc_b, COUNT(*) AS n_inter
            FROM pairs
            JOIN sh sa ON doc_a = sa.doc_id
            JOIN sh sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
            GROUP BY doc_a, doc_b),
          jac AS (
            SELECT p.doc_a, p.doc_b,
              CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                / CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE)
                AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
            JOIN sizes za ON p.doc_a = za.doc_id
            JOIN sizes zb ON p.doc_b = zb.doc_id)
          SELECT j.doc_a, j.doc_b,
            CAST($laneSum AS BIGINT) AS n_match_lanes,
            CAST($laneSum AS DOUBLE) / ${K}.0 AS est_jaccard,
            j.jaccard,
            abs(CAST($laneSum AS DOUBLE) / ${K}.0 - j.jaccard) AS abs_err
          FROM jac j
          JOIN sig a ON j.doc_a = a.doc_id
          JOIN sig b ON j.doc_b = b.doc_id
          ORDER BY doc_a, doc_b"""
    },
    "dedup_bbit_minhash" -> {
      val mod = 1L << BbitBits
      val laneSum = (0 until K)
        .map(i => s"CASE WHEN a.mh$i % $mod = b.mh$i % $mod " +
          "THEN 1 ELSE 0 END")
        .mkString(" + ")
      val est = s"(CAST($laneSum AS DOUBLE) / ${K}.0 - 1.0/$mod.0)" +
        s" / (1.0 - 1.0/$mod.0)"
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          sh AS (
            SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS sh
            FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
            WHERE length(toks) >= 3),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          inter AS (
            SELECT doc_a, doc_b, COUNT(*) AS n_inter
            FROM pairs
            JOIN sh sa ON doc_a = sa.doc_id
            JOIN sh sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
            GROUP BY doc_a, doc_b),
          jac AS (
            SELECT p.doc_a, p.doc_b,
              CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                / CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE)
                AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
            JOIN sizes za ON p.doc_a = za.doc_id
            JOIN sizes zb ON p.doc_b = zb.doc_id)
          SELECT j.doc_a, j.doc_b,
            CAST($laneSum AS BIGINT) AS n_match_bbit,
            $est AS est_bbit,
            j.jaccard,
            abs($est - j.jaccard) AS abs_err
          FROM jac j
          JOIN sig a ON j.doc_a = a.doc_id
          JOIN sig b ON j.doc_b = b.doc_id
          ORDER BY doc_a, doc_b"""
    },
    "dedup_weighted_jaccard" -> {
      val wu = "za.wsum + zb.wsum - COALESCE(i.w_inter, 0)"
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          sh AS (
            SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS sh
            FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
            WHERE length(toks) >= 3),
          df AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
          wsh AS (
            SELECT s.doc_id, s.sh, GREATEST(0, $WeightDfCap - d.df) AS w
            FROM sh s JOIN df d ON s.sh = d.sh),
          sums AS (SELECT doc_id, COUNT(*) AS n, SUM(w) AS wsum
                   FROM wsh GROUP BY doc_id),
          inter AS (
            SELECT doc_a, doc_b, COUNT(*) AS n_inter,
              SUM(sa.w) AS w_inter
            FROM pairs
            JOIN wsh sa ON doc_a = sa.doc_id
            JOIN wsh sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
            GROUP BY doc_a, doc_b)
          SELECT p.doc_a, p.doc_b,
            CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
              / CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE)
              AS jaccard,
            CAST(COALESCE(i.w_inter, 0) AS BIGINT) AS w_inter,
            CAST($wu AS BIGINT) AS w_union,
            CASE WHEN $wu = 0 THEN 0.0
                 ELSE CAST(COALESCE(i.w_inter, 0) AS DOUBLE)
                   / CAST($wu AS DOUBLE) END AS jaccard_weighted
          FROM pairs p
          LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
          JOIN sums za ON p.doc_a = za.doc_id
          JOIN sums zb ON p.doc_b = zb.doc_id
          ORDER BY p.doc_a, p.doc_b"""
    },
    "dedup_edit_distance" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs
          SELECT p.doc_a, p.doc_b,
            CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
            CAST(greatest(length(da.text), length(db.text)) AS BIGINT)
              AS max_len,
            1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
              / CAST(greatest(length(da.text), length(db.text)) AS DOUBLE)
              AS sim
          FROM pairs p
          JOIN documents da ON p.doc_a = da.doc_id
          JOIN documents db ON p.doc_b = db.doc_id
          WHERE length(da.text) <= $EditMaxLen
            AND length(db.text) <= $EditMaxLen
          ORDER BY doc_a, doc_b""",
    // Damerau tier: DuckDB's damerau_levenshtein is the same
    // unrestricted Lowrance-Wagner distance as the engine's codegen'd
    // kernel (probed: DL('CA','ABC') = 2, not OSA's 3).
    "dedup_damerau" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs
          SELECT p.doc_a, p.doc_b,
            CAST(damerau_levenshtein(da.text, db.text) AS BIGINT)
              AS dl_dist,
            CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev_dist,
            CAST(levenshtein(da.text, db.text)
              - damerau_levenshtein(da.text, db.text) AS BIGINT)
              AS transposition_gain,
            1.0 - CAST(damerau_levenshtein(da.text, db.text) AS DOUBLE)
              / CAST(greatest(length(da.text), length(db.text))
                AS DOUBLE) AS sim
          FROM pairs p
          JOIN documents da ON p.doc_a = da.doc_id
          JOIN documents db ON p.doc_b = db.doc_id
          WHERE length(da.text) <= $EditMaxLen
            AND length(db.text) <= $EditMaxLen
          ORDER BY doc_a, doc_b""",
    // Jaro-Winkler tier: DuckDB's jaro_winkler_similarity is the
    // SAME byte-walk convention as the engine's codegen'd kernel
    // (fuzz-pinned bit-for-bit on 30k random multibyte pairs)
    "dedup_jaro_winkler" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs
          SELECT p.doc_a, p.doc_b,
            jaro_similarity(da.text, db.text) AS jaro,
            jaro_winkler_similarity(da.text, db.text) AS jw,
            CASE
              WHEN jaro_winkler_similarity(da.text, db.text) >= 0.9
                THEN 'dup'
              WHEN jaro_winkler_similarity(da.text, db.text) >= 0.8
                THEN 'near'
              ELSE 'far' END AS tier
          FROM pairs p
          JOIN documents da ON p.doc_a = da.doc_id
          JOIN documents db ON p.doc_b = db.doc_id
          WHERE length(da.text) <= $EditMaxLen
            AND length(db.text) <= $EditMaxLen
          ORDER BY doc_a, doc_b""",
    // sorted-neighborhood: ONE GLOBAL window over the normalized-key
    // order, lead() successors, the JW builtin as the verifier — the
    // SAME oracle for the production (range-sharded, w-row-overlap)
    // and audit (global-window) registrations: equality is the
    // shard-decomposition proof
    "dedup_sorted_neighborhood" -> sqlSortedNeighborhood,
    "dedup_sorted_neighborhood_audit" -> sqlSortedNeighborhood,
    "dedup_sn_prune_audit" -> sqlSnPruneAudit,
    "dedup_sn_multipass" -> sqlSnMultipass,
    // blocking overlap: LSH pairs + SN pairs on the eligible slice,
    // (min,max)-normalized, full-outer aligned, JW-verified per tag
    "dedup_blocking_overlap" -> {
      val leads = (1 to SnWindow)
        .map(k => s"lead(doc_id, $k) OVER w AS n$k").mkString(", ")
      val unnestList = (1 to SnWindow).map(k => s"n$k").mkString("[", ", ", "]")
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs,
          el AS (
            SELECT doc_id, text FROM documents
            WHERE length(text) <= $EditMaxLen),
          lsh AS (
            SELECT p.doc_a, p.doc_b FROM pairs p
            JOIN el a ON a.doc_id = p.doc_a
            JOIN el b ON b.doc_id = p.doc_b),
          sk AS (
            SELECT doc_id,
              substr(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')),
                1, $SnKeyLen) AS skey
            FROM el),
          so AS (
            SELECT doc_id, $leads
            FROM sk WINDOW w AS (ORDER BY skey, doc_id)),
          sp0 AS (
            SELECT doc_id AS a, unnest($unnestList) AS b FROM so),
          snp AS (
            SELECT least(a, b) AS doc_a, greatest(a, b) AS doc_b
            FROM sp0 WHERE b IS NOT NULL),
          allp AS (
            SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
              COALESCE(l.doc_b, s.doc_b) AS doc_b,
              CASE WHEN l.doc_a IS NOT NULL AND s.doc_a IS NOT NULL
                  THEN 'both'
                WHEN l.doc_a IS NOT NULL THEN 'lsh_only'
                ELSE 'sn_only' END AS tag
            FROM lsh l FULL OUTER JOIN snp s
              ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b)
          SELECT tag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
            CAST(SUM(CASE WHEN jaro_winkler_similarity(da.text, db.text)
                >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
            CAST(SUM(CASE WHEN jaro_winkler_similarity(da.text, db.text)
                >= 0.9 THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS dup_rate
          FROM allp
          JOIN documents da ON allp.doc_a = da.doc_id
          JOIN documents db ON allp.doc_b = db.doc_id
          GROUP BY tag ORDER BY tag"""
    },
    // FULL distance + post-hoc threshold: bit-equality proves the
    // banded early-exit verifier returns exactly the capped answer
    "dedup_edit_banded" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs
          SELECT p.doc_a, p.doc_b,
            CASE WHEN levenshtein(da.text, db.text) <= $EditThreshold
              THEN CAST(levenshtein(da.text, db.text) AS BIGINT)
              ELSE CAST(-1 AS BIGINT) END AS edit_dist_capped,
            CASE WHEN levenshtein(da.text, db.text) <= $EditThreshold
              THEN 'near' ELSE 'far' END AS verdict
          FROM pairs p
          JOIN documents da ON p.doc_a = da.doc_id
          JOIN documents db ON p.doc_b = db.doc_id
          ORDER BY doc_a, doc_b""",
    "dedup_components" ->
      s"""WITH RECURSIVE $sqlSignatures, $sqlBuckets, $sqlComponents
          SELECT doc_id, component_id FROM comp ORDER BY doc_id""",
    // survivorship: same component CTEs, the (nd DESC, chars DESC,
    // id) rank mirrored
    "dedup_survivor" ->
      s"""WITH RECURSIVE $sqlSignatures, $sqlBuckets, $sqlComponents,
          ms AS (
            SELECT c.component_id, c.doc_id,
              CAST(length(list_distinct(${graft.functions.Hashing
        .sqlTokens("d.text")})) AS BIGINT) AS nd,
              d.n_chars
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
          sz AS (
            SELECT component_id, CAST(COUNT(*) AS BIGINT) AS n_members,
              MIN(doc_id) AS min_id
            FROM ms GROUP BY 1 HAVING COUNT(*) > 1),
          rk AS (
            SELECT component_id, doc_id, nd, n_chars,
              ROW_NUMBER() OVER (PARTITION BY component_id
                ORDER BY nd DESC, n_chars DESC, doc_id) AS rn
            FROM ms)
          SELECT r.component_id, r.doc_id AS survivor_id, s.n_members,
            s.n_members - 1 AS n_dropped,
            r.nd AS survivor_distinct_tokens,
            r.n_chars AS survivor_chars,
            CAST(CASE WHEN r.doc_id = s.min_id THEN 1 ELSE 0 END
              AS BIGINT) AS survivor_is_min_id
          FROM rk r JOIN sz s USING (component_id)
          WHERE r.rn = 1
          ORDER BY r.component_id""",
    "dedup_component_profile" ->
      s"""WITH RECURSIVE $sqlSignatures, $sqlBuckets, $sqlComponents,
          sh AS (
            SELECT doc_id, unnest(list_distinct(${sqlShingles("toks")})) AS sh
            FROM (SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents)
            WHERE length(toks) >= 3),
          sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
          inter AS (
            SELECT doc_a, doc_b, COUNT(*) AS n_inter
            FROM pairs
            JOIN sh sa ON doc_a = sa.doc_id
            JOIN sh sb ON doc_b = sb.doc_id AND sa.sh = sb.sh
            GROUP BY doc_a, doc_b),
          jacp AS (
            SELECT p.doc_a,
              CAST(COALESCE(i.n_inter, 0) AS DOUBLE)
                / CAST(za.n + zb.n - COALESCE(i.n_inter, 0) AS DOUBLE)
                AS jaccard
            FROM pairs p
            LEFT JOIN inter i ON p.doc_a = i.doc_a AND p.doc_b = i.doc_b
            JOIN sizes za ON p.doc_a = za.doc_id
            JOIN sizes zb ON p.doc_b = zb.doc_id),
          mem AS (
            SELECT component_id, COUNT(*) AS n_members
            FROM comp GROUP BY component_id HAVING COUNT(*) > 1),
          ej AS (
            SELECT c.component_id, COUNT(*) AS n_edges,
              MIN(j.jaccard) AS min_jaccard, MAX(j.jaccard) AS max_jaccard
            FROM jacp j JOIN comp c ON j.doc_a = c.doc_id
            GROUP BY c.component_id)
          SELECT m.component_id, m.n_members, e.n_edges,
            e.min_jaccard, e.max_jaccard
          FROM mem m JOIN ej e ON m.component_id = e.component_id
          ORDER BY m.component_id""",
    "dedup_bucket_histogram" ->
      s"""WITH $sqlSignatures, $sqlBuckets
          SELECT k, COUNT(*) AS n_buckets,
            CAST(k * k * COUNT(*) AS BIGINT) AS join_cost
          FROM (SELECT band, bucket, COUNT(*) AS k
                FROM buckets GROUP BY band, bucket) z
          GROUP BY k ORDER BY k""",
    "doc_split_oov" ->
      s"""WITH RECURSIVE $sqlSignatures, $sqlBuckets, $sqlComponents,
          sp AS (
            SELECT doc_id,
              CASE WHEN b < 8 THEN 'train'
                   WHEN b = 8 THEN 'val'
                   ELSE 'test' END AS split
            FROM (SELECT doc_id,
                    ${sqlCharHash("CAST(component_id AS VARCHAR)")} % 10 AS b
                  FROM comp) z),
          tok AS (
            SELECT d.doc_id, sp.split, unnest(${sqlTokens("text")}) AS tok
            FROM documents d JOIN sp ON d.doc_id = sp.doc_id),
          tv AS (SELECT DISTINCT tok FROM tok WHERE split = 'train')
          SELECT t.doc_id, t.split, COUNT(*) AS n_tokens,
            CAST(SUM(CASE WHEN tv.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_oov,
            CAST(SUM(CASE WHEN tv.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS oov_rate
          FROM tok t LEFT JOIN tv ON t.tok = tv.tok
          WHERE t.split != 'train'
          GROUP BY t.doc_id, t.split ORDER BY t.doc_id""",
    "doc_manifest" ->
      s"""WITH RECURSIVE $sqlSignatures, $sqlBuckets, $sqlComponents,
          kd AS (${TextOps.oracle("doc_keep_decision")}),
          qg AS (${TextOps.oracle("doc_quality_gate")}),
          sp AS (
            SELECT doc_id, component_id,
              CASE WHEN b < 8 THEN 'train'
                   WHEN b = 8 THEN 'val'
                   ELSE 'test' END AS split
            FROM (SELECT doc_id, component_id,
                    ${sqlCharHash("CAST(component_id AS VARCHAR)")} % 10 AS b
                  FROM comp) z)
          SELECT kd.doc_id, kd.decision, sp.component_id, sp.split,
            qg.quality, qg.verdict AS quality_verdict,
            CASE WHEN kd.decision = 'keep' AND qg.verdict = 'keep'
                 THEN 'keep' ELSE 'drop' END AS final_decision
          FROM kd
          JOIN sp ON kd.doc_id = sp.doc_id
          JOIN qg ON kd.doc_id = qg.doc_id
          ORDER BY kd.doc_id""",
    "dedup_split_assign" ->
      s"""WITH RECURSIVE $sqlSignatures, $sqlBuckets, $sqlComponents
          SELECT doc_id, component_id,
            CASE WHEN b < 8 THEN 'train'
                 WHEN b = 8 THEN 'val'
                 ELSE 'test' END AS split
          FROM (SELECT doc_id, component_id,
                  ${sqlCharHash("CAST(component_id AS VARCHAR)")} % 10 AS b
                FROM comp) z
          ORDER BY doc_id""",
    "dedup_savings" ->
      s"""WITH RECURSIVE $sqlSignatures, $sqlBuckets, $sqlComponents
          SELECT component_id AS canonical_id, COUNT(*) AS n_members,
            CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
            CAST(SUM(CASE WHEN c.doc_id != component_id
                          THEN d.n_chars ELSE 0 END) AS BIGINT)
              AS chars_saved
          FROM comp c JOIN documents d ON c.doc_id = d.doc_id
          GROUP BY component_id ORDER BY canonical_id""",
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $sqlSignatures, $sqlBuckets, $sqlComponents,
          ql AS (SELECT doc_id, quality
                 FROM (${TextOps.oracle("text_quality")}) tq)
          SELECT component_id, keep_doc_id, keep_quality, n_members
          FROM (
            SELECT c.component_id, c.doc_id AS keep_doc_id,
              ql.quality AS keep_quality,
              COUNT(*) OVER (PARTITION BY c.component_id) AS n_members,
              ROW_NUMBER() OVER (PARTITION BY c.component_id
                ORDER BY ql.quality DESC, c.doc_id) AS rn
            FROM comp c JOIN ql ON c.doc_id = ql.doc_id) z
          WHERE rn = 1 ORDER BY component_id""",
    "dedup_cross_source" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          $sqlCandPairs
          SELECT least(da.source, db.source) AS source_a,
            greatest(da.source, db.source) AS source_b,
            COUNT(*) AS n_pairs,
            CAST(SUM(CASE WHEN da.text = db.text THEN 1 ELSE 0 END)
              AS BIGINT) AS n_exact
          FROM pairs p
          JOIN documents da ON p.doc_a = da.doc_id
          JOIN documents db ON p.doc_b = db.doc_id
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "dedup_incremental" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          tagged AS (
            SELECT doc_id, text,
              ${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10 = 7 AS is_new
            FROM documents),
          corpus_texts AS (
            SELECT DISTINCT text FROM tagged WHERE NOT is_new),
          cand AS (
            SELECT DISTINCT x.doc_id AS doc_id, y.doc_id AS cand_id
            FROM buckets x
            JOIN tagged tx ON x.doc_id = tx.doc_id AND tx.is_new
            JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket
            JOIN tagged ty ON y.doc_id = ty.doc_id AND NOT ty.is_new),
          nc AS (
            SELECT doc_id, COUNT(*) AS n FROM cand GROUP BY doc_id)
          SELECT t.doc_id,
            CAST(CASE WHEN ct.text IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
              AS is_exact_dup,
            CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_near_cands,
            CASE WHEN ct.text IS NOT NULL THEN 'exact'
                 WHEN COALESCE(nc.n, 0) > 0 THEN 'near'
                 ELSE 'unique' END AS verdict
          FROM tagged t
          LEFT JOIN corpus_texts ct ON t.text = ct.text
          LEFT JOIN nc ON t.doc_id = nc.doc_id
          WHERE t.is_new ORDER BY t.doc_id""",
    "dedup_delta_probe" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          delta AS (
            SELECT doc_id + $DeltaIdOffset AS doc_id,
              doc_id AS orig_id,
              'UPDATE: ' || text AS text
            FROM documents
            WHERE ${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
              = $DeltaTag),
          ${sqlSignaturesAs("dsig", "delta")},
          ${sqlBucketsAs("dbuckets", "dsig")},
          cand AS (
            SELECT DISTINCT x.doc_id, y.doc_id AS cand_id
            FROM dbuckets x
            JOIN buckets y ON x.band = y.band AND x.bucket = y.bucket),
          roll AS (
            SELECT doc_id, COUNT(*) AS n,
              MAX(CASE WHEN cand_id = doc_id - $DeltaIdOffset
                  THEN 1 ELSE 0 END) AS self_hit
            FROM cand GROUP BY doc_id)
          SELECT d.doc_id, d.orig_id,
            CAST(COALESCE(r.n, 0) AS BIGINT) AS n_near_cands,
            CAST(COALESCE(r.self_hit, 0) AS BIGINT) AS self_hit,
            CASE WHEN COALESCE(r.self_hit, 0) = 1 THEN 'recognized'
                 WHEN COALESCE(r.n, 0) > 0 THEN 'near'
                 ELSE 'new' END AS verdict
          FROM delta d
          LEFT JOIN roll r ON d.doc_id = r.doc_id
          ORDER BY d.doc_id""",
    // the same four-status classification computed by independent SQL
    // over the same snapshot derivations (takedown / in-place re-crawl
    // / discovered docs at offset ids)
    "doc_snapshot_diff" -> {
      val tag = s"${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10"
      val bText = s"CASE WHEN $tag = $DeltaTag THEN 'UPDATE: ' || text " +
        "ELSE text END"
      s"""WITH a AS (
            SELECT doc_id, md5(text) AS old_md5,
              CAST(octet_length(encode(text)) AS BIGINT) AS old_len
            FROM documents),
          b AS (
            SELECT doc_id, md5($bText) AS new_md5,
              CAST(octet_length(encode($bText)) AS BIGINT) AS new_len
            FROM documents WHERE $tag != $TombTag
            UNION ALL
            SELECT doc_id + $DeltaIdOffset AS doc_id,
              md5('NEW: ' || text) AS new_md5,
              CAST(octet_length(encode('NEW: ' || text)) AS BIGINT)
                AS new_len
            FROM documents WHERE $tag = $AddTag)
          SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
            CASE WHEN b.new_md5 IS NULL THEN 'removed'
                 WHEN a.old_md5 IS NULL THEN 'added'
                 WHEN a.old_md5 != b.new_md5 THEN 'changed'
                 ELSE 'unchanged' END AS status,
            COALESCE(a.old_md5, '') AS old_md5,
            COALESCE(b.new_md5, '') AS new_md5,
            COALESCE(a.old_len, CAST(-1 AS BIGINT)) AS old_len,
            COALESCE(b.new_len, CAST(-1 AS BIGINT)) AS new_len
          FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
          ORDER BY doc_id"""
    },
    "doc_snapshot_drift" -> {
      val tag = s"${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10"
      // every SUM cast to BIGINT: DuckDB SUM(INTEGER) yields HUGEINT,
      // which must not reach the driver's schema/hash compare
      s"""SELECT source, COUNT(*) AS n_before,
          CAST(COUNT(*)
            - SUM(CASE WHEN $tag = $TombTag THEN 1 ELSE 0 END)
            + SUM(CASE WHEN $tag = $AddTag THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after,
          CAST(SUM(CASE WHEN $tag = $TombTag THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
          CAST(SUM(CASE WHEN $tag = $DeltaTag THEN 1 ELSE 0 END)
            AS BIGINT) AS n_changed,
          CAST(SUM(CASE WHEN $tag = $AddTag THEN 1 ELSE 0 END)
            AS BIGINT) AS n_added
          FROM documents GROUP BY source ORDER BY source"""
    },
    // full REBUILD of the index over corpus ∖ tombstones: bit-equality
    // against Spark's filter-compaction IS the compact ≡ rebuild proof
    "dedup_index_compact" ->
      s"""WITH kept AS (
            SELECT doc_id, text FROM documents
            WHERE ${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
              != $TombTag),
          ${sqlSignaturesAs("sig", "kept")},
          ${sqlBucketsAs("buckets", "sig")}
          SELECT doc_id, band, bucket FROM buckets
          ORDER BY doc_id, band""",
    // full RECURSIVE rebuild of the component labeling over
    // corpus ∪ delta: bit-equality against the coarsened-graph
    // incremental pass IS the incremental ≡ rebuild proof
    "dedup_components_delta" ->
      s"""WITH RECURSIVE docs_all AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + $DeltaIdOffset AS doc_id,
              'UPDATE: ' || text AS text
            FROM documents
            WHERE ${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
              = $DeltaTag),
          ${sqlSignaturesAs("sig", "docs_all")},
          ${sqlBucketsAs("buckets", "sig")},
          cpairs AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM buckets x JOIN buckets y
              ON x.band = y.band AND x.bucket = y.bucket
                 AND x.doc_id < y.doc_id),
          edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM cpairs
            UNION SELECT doc_b, doc_a FROM cpairs),
          reach AS (
            SELECT doc_id AS src, doc_id AS dst FROM docs_all
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
          comp AS (
            SELECT src AS doc_id, MIN(dst) AS component_id
            FROM reach GROUP BY src)
          SELECT doc_id, component_id FROM comp ORDER BY doc_id""",
    // the rewrite-trigger monitor: per band, live fraction of the
    // index under the current tombstone set
    "dedup_index_stats" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          st AS (
            SELECT band, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(*) FILTER (
                WHERE ${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
                  = $TombTag) AS BIGINT) AS n_tomb
            FROM buckets GROUP BY band)
          SELECT band, n_rows, n_tomb,
            CAST(n_rows - n_tomb AS DOUBLE) / CAST(n_rows AS DOUBLE)
              AS live_frac
          FROM st ORDER BY band""",
    // the physical rewrite must be indistinguishable from the logical
    // delete AND from a full rebuild — same oracle as the compact
    "dedup_index_rewrite" ->
      s"""WITH kept AS (
            SELECT doc_id, text FROM documents
            WHERE ${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
              != $TombTag),
          ${sqlSignaturesAs("sig", "kept")},
          ${sqlBucketsAs("buckets", "sig")}
          SELECT doc_id, band, bucket FROM buckets
          ORDER BY doc_id, band""",
    // full REBUILD of the index over corpus ∪ delta: bit-equality
    // against Spark's append-only merge IS the merge ≡ rebuild proof
    "dedup_index_merge" ->
      s"""WITH $sqlSignatures, $sqlBuckets,
          delta AS (
            SELECT doc_id + $DeltaIdOffset AS doc_id,
              doc_id AS orig_id,
              'UPDATE: ' || text AS text
            FROM documents
            WHERE ${sqlCharHash("CAST(doc_id AS VARCHAR)")} % 10
              = $DeltaTag),
          ${sqlSignaturesAs("dsig", "delta")},
          ${sqlBucketsAs("dbuckets", "dsig")}
          SELECT doc_id, band, bucket FROM (
            SELECT doc_id, band, bucket FROM buckets
            UNION ALL
            SELECT doc_id, band, bucket FROM dbuckets)
          ORDER BY doc_id, band""",
    "dedup_simhash_clusters" ->
      s"""SELECT simhash, MIN(doc_id) AS canonical_id,
          COUNT(*) AS cluster_size
          FROM (SELECT doc_id,
                  ${sqlSimhash32(sqlHashAll(sqlTokens("text")))} AS simhash
                FROM documents)
          GROUP BY simhash ORDER BY simhash""",
    // Hamming histogram: same band-bucket candidate join (// and %
    // mirror the unsigned shifts on the nonnegative 32-bit value);
    // DuckDB's ^ is exponentiation, so XOR is the xor() function.
    "dedup_hamming_histogram" ->
      s"""WITH sh AS MATERIALIZED (
            SELECT doc_id,
              ${sqlSimhash32(sqlHashAll(sqlTokens("text")))} AS sh
            FROM documents),
          bands AS MATERIALIZED (
            SELECT doc_id, sh, j.j AS band,
              (sh // (CAST(1 AS BIGINT) << (j.j * $SimhashBandBits)))
                % ${1L << SimhashBandBits} AS bv
            FROM sh, (SELECT unnest(range(0,
              ${32 / SimhashBandBits})) AS j) j),
          cells AS (
            SELECT hamming, m, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
              SELECT CAST(bit_count(xor(x.sh, y.sh)) AS BIGINT)
                  AS hamming,
                CAST(${(0 until 32 / SimhashBandBits).map(j =>
                  s"(CASE WHEN (xor(x.sh, y.sh) >> ${j * SimhashBandBits}) " +
                    s"& ${(1L << SimhashBandBits) - 1} = 0 THEN 1 ELSE 0 END)")
                  .mkString(" + ")} AS BIGINT) AS m
              FROM bands x JOIN bands y
                ON x.band = y.band AND x.bv = y.bv
                  AND x.doc_id < y.doc_id) z
            WHERE hamming <= $HammingHistMax
            GROUP BY hamming, m),
          hist AS (
            SELECT hamming, CAST(SUM(cnt // m) AS BIGINT) AS n_pairs
            FROM cells GROUP BY 1),
          tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS total FROM hist)
          SELECT hamming, n_pairs,
            CAST(SUM(n_pairs) OVER (ORDER BY hamming
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_pairs,
            CAST(SUM(n_pairs) OVER (ORDER BY hamming
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
          FROM hist, tot ORDER BY hamming""")
}
