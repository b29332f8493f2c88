package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.{Scored, TopKAggregator}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (driver-requested
  * training-data-pipeline surface) plus MinHash/SimHash near-dup over
  * `documents`.
  *
  * Three tiers:
  *  - `sim_topk_dot`: exact top-k by integer-quantized inner product —
  *    float-free, so it is DuckDB-oracle-checkable bit-for-bit.
  *  - `sim_topk_cosine`: brute-force cosine top-k in double precision,
  *    the correctness baseline for ANN (rows-only check).
  *  - `sim_lsh_topk` / `dd_minhash` / `dd_simhash`: hash-bucketed scale
  *    paths — candidates come from bucket joins (shuffle on short hash
  *    keys), never from an unconstrained cross join, so they survive a
  *    100× scale-up; each candidate pair is then verified exactly.
  *
  * Ranking everywhere is the bounded top-k aggregator
  * ([[graft.functions.TopKAggregator]]) under `groupBy(qid)` — partial
  * aggregation holds a size-k buffer per (partition, query) and the
  * exchange carries only k rows per partition per query. The per-qid
  * window it replaced sorted the full candidate set in (number of
  * queries) single tasks — fine at sf0.1, a wall at 100×.
  *
  * Signature computation is deliberately a compact deterministic JVM
  * kernel (UDF), not a Catalyst expression tree: a 16-plane × 64-dim
  * hyperplane set as nested `lit()` arrays is ~1k expressions evaluated
  * per row (interpreted — higher-order lambdas break whole-stage
  * codegen), which benched ~20× slower than the closure. The kernels
  * are pure functions of the row (no state, no nondeterminism), so they
  * distribute like any codegen'd projection.
  *
  * Grounding: the reference's similarity primitive is the token-overlap
  * scorer (oracle.ts:146-175); the embedding ops generalize it to the
  * vector column per the driver brief.
  */
object Similarity {

  private def T(s: SparkSession, dir: String) = {
    // driver-owned sessions may lack spark.sql.extensions; idempotent
    graft.GraftExtensions.ensureRegistered(s)
    Tables(s, dir)
  }

  /** embedding: Array[Float] → integer grid (×1000, rounded). Exact both
    * engines; all downstream math is Long. A vector holding any
    * non-finite, null, or out-of-envelope (|x| > 1000) component folds
    * to null WHOLE — the engine's malformed-vector posture (DotLong
    * nulls ragged pairs, the LSH kernel drops null-element vectors) —
    * instead of throwing on the ANSI long cast: floats reach 3.4e38 and
    * cast(NaN as long) is a SparkArithmeticException, which would kill
    * the query for the whole corpus over one bad row. The 1000 envelope
    * is the documented exactness bound (|q| ≤ 10^6 keeps a 64-dim dot
    * near 2^46, exact under the heap's double compare); both oracles
    * carry the identical guard. */
  private def quantized(c: Column): Column =
    when(exists(c, x => x.isNull || isnan(x) || abs(x) > lit(1000.0f)),
      lit(null).cast("array<long>"))
      .otherwise(transform(c, x => round(x.cast("double") * lit(1000), 0).cast("long")))

  /** Inner products via the native Catalyst expressions
    * ([[graft.functions.DotLong]] / [[graft.functions.DotFloat]]): the
    * tight loop is code-GENERATED inside the surrounding
    * whole-stage-codegen span over Tungsten ArrayData — no UDF
    * serialization boundary, no Row→Seq conversion, no codegen fence —
    * the brief's preferred form for scalar kernels (Expression with
    * doGenCode > Scala UDF). Null input → null and accumulation is
    * strictly left-to-right, so results are bit-for-bit unchanged from
    * the UDF kernels they replace — including the double path (float
    * addition order preserved). One deliberate tightening: a ragged
    * (length-mismatched) pair is now null, where the UDFs computed a
    * silently partial dot over min(length) — a malformed embedding
    * surfaces as a null score instead of a wrong one (catalog vectors
    * are fixed-width, so no catalog result changes).
    *
    * Registered on the session by [[graft.GraftExtensions]]; the
    * ensureRegistered call covers driver-owned sessions that were not
    * built with `spark.sql.extensions=graft.GraftExtensions`. */
  private def dotLong(a: Column, b: Column): Column =
    call_function("dot_long", a, b)

  /** Both call sites feed `array<float>` embedding columns. */
  private def dotDouble(a: Column, b: Column): Column =
    call_function("dot_float", a, b)

  // --- bounded top-k ranking (the scale-safe window replacement) ---

  private lazy val topk5 = {
    implicit val bufEnc = Encoders.product[graft.functions.TopKBuf[Long]]
    udaf(new TopKAggregator[Long](5), Encoders.product[Scored[Long]])
  }

  /** Schema-true empty frame from a DDL string — the ONE definition of
    * the empty-part/empty-state substitution rule (probe-side empty
    * markers, zero-delta stream state, band-degenerate increments).
    * Review r19: three inline copies had grown across the probe and
    * ingest paths; a drift in one (nullability, metadata) would have
    * silently diverged the empty case from the populated one. */
  private[operators] def emptyFromDdl(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** Ranks a scored candidate frame — columns (qid, score, id, pay) — to
    * the top 5 per qid via the partial-aggregating bounded heap. Output:
    * (qid, rank, id, score, pay) with rank 1..5 ordered score desc, id
    * asc — the identical total order the per-qid row_number window
    * produced, without ever sorting more than 5 rows per task per qid. */
  private def rankTop5(scored: DataFrame): DataFrame =
    scored
      // The old desc window ranked nulls last and NaN first; neither is a
      // meaningful neighbor score (null = malformed pair, NaN = zero-norm
      // cosine), and a NaN entering the bounded heap would break its sorted
      // invariant (NaN loses every `>` comparison, so it prepends into a
      // non-full buffer and, once last in a full one, blocks all inserts) —
      // both are excluded before aggregation.
      .filter(col("score").isNotNull && !isnan(col("score")))
      .groupBy(col("qid"))
      .agg(topk5(col("score"), col("id"), col("pay")).as("top"))
      .select(col("qid"), posexplode(col("top.items")))
      .select(col("qid"), (col("pos") + lit(1)).cast("long").as("rank"),
        col("col.id").as("id"), col("col.score").as("score"), col("col.pay").as("pay"))

  // --- deterministic JVM hash kernels (shared by the LSH family) ---

  /** Hyperplane-LSH band kernel: `nPlanes` Gaussian hyperplanes drawn
    * deterministically from `seed`, each vector's sign signature packed
    * into `nBands` band values (nPlanes/nBands bits each). Shared by the
    * LSH top-k probe (24 planes, seed 42) and the embedding near-dup
    * (16 planes, seed 1337) so the two copies cannot drift; null OR
    * ragged vector (length ≠ dim) → no bands, row drops out — a
    * truncated vector must surface as malformed at the signature
    * stage, not band plausibly from a partial dot product while its
    * verify dot nulls out (the same silent-truncation behavior the
    * DotLong/DotFloat rewrite deliberately tightened to null). */
  private def hyperplaneBandsUdf(dim: Int, nPlanes: Int, nBands: Int, seed: Long) = {
    val rng = new java.util.Random(seed)
    val planes: Array[Array[Double]] =
      Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
    // boxed element type: a vector holding a null ELEMENT is the same
    // malformed-input class as a ragged one and must drop out as
    // band-less, not NPE the deserializer — every other vector kernel
    // (DotLong/DotFloat null-fold, collectCentroids' element filter)
    // already treats it as representable input (r13 third sweep)
    udf((v: Seq[java.lang.Float]) => {
      if (v == null || v.length != dim || v.contains(null)) Array.empty[Long]
      else {
        val sig = new Array[Int](nPlanes)
        var p = 0
        while (p < nPlanes) {
          val pl = planes(p)
          var d = 0.0
          var i = 0
          val n = pl.length
          while (i < n) { d += pl(i) * v(i).floatValue; i += 1 }
          sig(p) = if (d >= 0.0) 1 else 0
          p += 1
        }
        Array.tabulate(nBands) { b =>
          var acc = 0L
          var j = 0
          val w = nPlanes / nBands
          while (j < w) { acc = acc * 2 + sig(b * w + j); j += 1 }
          acc
        }
      }
    })
  }

  /** Exact top-5 neighbors by quantized inner product for query vectors
    * vec_id < 5. Integer math end-to-end → DuckDB-checkable. (The heap
    * aggregator compares the dot as a double — exact below 2^53, and a
    * 64-dim grid of ±10^6 components tops out near 2^46 — while the
    * emitted dot rides through the Long payload untouched.) */
  val simTopkDot = QueryDef(
    "sim_topk_dot",
    (s, dir) => {
      val e = T(s, dir).embeddings.select(col("vec_id"), quantized(col("embedding")).as("q"))
      val queries = e.filter(col("vec_id") < lit(5L))
        .select(col("vec_id").as("qid"), col("q").as("qv"))
      val cands = e.select(col("vec_id").as("nid"), col("q").as("nv"))
      val scored = cands.join(broadcast(queries), col("qid") =!= col("nid"))
        .withColumn("dot", dotLong(col("qv"), col("nv")))
        .select(col("qid"), col("dot").cast("double").as("score"),
          col("nid").as("id"), col("dot").as("pay"))
      rankTop5(scored)
        .select(col("qid"), col("rank"), col("id").as("nid"), col("pay").as("dot"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = Some("""
      WITH e AS (
        -- the malformed-vector guard mirrors quantized(): any null /
        -- NaN / out-of-envelope component nulls the whole vector
        SELECT vec_id,
          CASE WHEN len(list_filter(embedding,
                 x -> x IS NULL OR isnan(x) OR abs(x) > 1000)) > 0 THEN NULL
          ELSE list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
          END AS q
        FROM embeddings),
      pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
          (SELECT CAST(SUM(z.xa * z.xb) AS BIGINT)
           FROM (SELECT unnest(a.q) AS xa, unnest(b.q) AS xb) z) AS dot
        FROM e a JOIN e b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT qid, nid, dot,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, nid ASC) AS rank
        FROM pairs WHERE dot IS NOT NULL)
      SELECT qid, rank, nid, dot FROM ranked WHERE rank <= 5
      ORDER BY qid, rank"""),
    headline = true)

  /** Brute-force cosine top-5 (double) — ANN correctness baseline.
    * Rows-only check: float accumulation order is engine-specific. */
  val simTopkCosine = QueryDef(
    "sim_topk_cosine",
    (s, dir) => {
      val e = T(s, dir).embeddings
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dotDouble(col("v"), col("v"))))
      val queries = e.filter(col("vec_id") < lit(5L))
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
      val cands = e.select(col("vec_id").as("nid"), col("v").as("nv"), col("norm").as("nn"))
      val scored = cands.join(broadcast(queries), col("qid") =!= col("nid"))
        .withColumn("cos", dotDouble(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .select(col("qid"), col("cos").as("score"), col("nid").as("id"), lit(0L).as("pay"))
      rankTop5(scored)
        .select(col("qid"), col("rank"), col("id").as("nid"),
          round(col("score") * lit(1000000), 0).cast("long").as("cos_q6"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = None)

  /** Quantized-cosine top-5 with an EXACT oracle: dots and squared norms
    * are integer (quantized grid), so no float accumulation order exists;
    * the only float steps are per-pair sqrt/divide/round — single IEEE
    * operations that both engines compute bit-identically. This makes the
    * ANN correctness baseline hash-checkable, not just rows-only. */
  val simTopkCosineQ = QueryDef(
    "sim_topk_cosine_q",
    (s, dir) => {
      val e = T(s, dir).embeddings.select(col("vec_id"), quantized(col("embedding")).as("q"))
        .withColumn("n2", dotLong(col("q"), col("q")))
      val queries = e.filter(col("vec_id") < lit(5L))
        .select(col("vec_id").as("qid"), col("q").as("qv"), col("n2").as("qn2"))
      val cands = e.select(col("vec_id").as("nid"), col("q").as("nv"), col("n2").as("nn2"))
      val scored = cands.join(broadcast(queries), col("qid") =!= col("nid"))
        .withColumn("dot", dotLong(col("qv"), col("nv")))
        .withColumn("cos", col("dot").cast("double") /
          (sqrt(col("qn2").cast("double")) * sqrt(col("nn2").cast("double"))))
        .select(col("qid"), col("cos").as("score"), col("nid").as("id"), lit(0L).as("pay"))
      rankTop5(scored)
        .select(col("qid"), col("rank"), col("id").as("nid"),
          round(col("score") * lit(1000000), 0).cast("long").as("cos_q6"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = Some("""
      WITH e AS (
        -- the malformed-vector guard mirrors quantized(): any null /
        -- NaN / out-of-envelope component nulls the whole vector
        SELECT vec_id,
          CASE WHEN len(list_filter(embedding,
                 x -> x IS NULL OR isnan(x) OR abs(x) > 1000)) > 0 THEN NULL
          ELSE list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT))
          END AS q
        FROM embeddings),
      n AS (
        SELECT vec_id, q,
          (SELECT CAST(SUM(z.x * z.x) AS BIGINT) FROM (SELECT unnest(q) AS x) z) AS n2
        FROM e),
      pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
          (SELECT CAST(SUM(z.xa * z.xb) AS BIGINT)
           FROM (SELECT unnest(a.q) AS xa, unnest(b.q) AS xb) z) AS dot,
          a.n2 AS qn2, b.n2 AS nn2
        FROM n a JOIN n b ON a.vec_id < 5 AND a.vec_id <> b.vec_id),
      ranked AS (
        SELECT qid, nid,
          CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))) AS cos,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY
            CAST(dot AS DOUBLE) / (sqrt(CAST(qn2 AS DOUBLE)) * sqrt(CAST(nn2 AS DOUBLE))) DESC,
            nid ASC) AS rank
        -- qn2/nn2 > 0 mirrors rankTop5's NaN exclusion (a zero-norm side
        -- makes cos 0/0 = NaN, which Spark drops BEFORE the heap; DuckDB
        -- would rank NaN above every real score and then error on the
        -- ROUND cast); dot IS NOT NULL mirrors the null-score drop
        FROM pairs WHERE dot IS NOT NULL AND qn2 > 0 AND nn2 > 0)
      SELECT qid, rank, nid,
        CAST(ROUND(cos * 1000000) AS BIGINT) AS cos_q6
      FROM ranked WHERE rank <= 5 ORDER BY qid, rank"""))

  /** LSH-bucketed cosine top-k: random-hyperplane signatures (seeded,
    * deterministic), candidates share a signature band, exact re-rank
    * inside buckets.
    *
    * Scale shape: signatures are computed ONCE over the corpus; candidate
    * generation is a broadcast probe of the k query signatures against the
    * banded corpus (no self-join, no shuffle of vectors); the distinct
    * runs on narrow (qid, nid) longs; only surviving candidates rejoin
    * their vectors for exact re-rank — which partially aggregates through
    * the bounded top-k heap. At 100 TB the corpus-side work is a single
    * scan + one narrow exchange. */
  val simLshTopk = QueryDef(
    "sim_lsh_topk",
    (s, dir) => {
      // 8 bands x 3 bits — measured 0.92+ top-5 recall on the
      // near-orthogonal synthetic corpus (4x4 gave 0.48; per-band collision
      // p ≈ 0.27 at cos 0.45, so P(≥1 of 8 bands) ≈ 0.92)
      val bandValsUdf = hyperplaneBandsUdf(dim = 64, nPlanes = 24, nBands = 8, seed = 42L)

      val e = T(s, dir).embeddings.select(col("vec_id"), col("embedding").as("v"))
      val banded = e
        .select(col("vec_id"), posexplode(bandValsUdf(col("v"))))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "band_val")
      val qBands = banded.filter(col("vec_id") < lit(5L))
        .select(col("band"), col("band_val"), col("vec_id").as("qid"))
      // candidate ids only — narrow shuffle-free broadcast probe
      val candIds = banded.join(broadcast(qBands), Seq("band", "band_val"))
        .filter(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("nid"))
        .distinct()
      val withNorm = e.withColumn("norm", sqrt(dotDouble(col("v"), col("v"))))
      val qVecs = withNorm.filter(col("vec_id") < lit(5L))
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("norm").as("qn"))
      val scored = candIds
        .join(withNorm.select(col("vec_id").as("nid"), col("v").as("nv"),
          col("norm").as("nn")), Seq("nid"))
        .join(broadcast(qVecs), Seq("qid"))
        .withColumn("cos", dotDouble(col("qv"), col("nv")) / (col("qn") * col("nn")))
        .select(col("qid"), col("cos").as("score"), col("nid").as("id"), lit(0L).as("pay"))
      rankTop5(scored)
        .select(col("qid"), col("rank"), col("id").as("nid"),
          round(col("score") * lit(1000000), 0).cast("long").as("cos_q6"))
        .orderBy(col("qid"), col("rank"))
    },
    oracle = None,
    headline = true)

  /** MinHash+LSH near-dup over documents: word shingles → 32 minhashes
    * (one base hash per token + 32 keyed avalanche permutations) →
    * 8 bands of 4 → per-bucket keeper assignment → exact Jaccard
    * verify ≥ 50%.
    *
    * Scale design: the classic all-pairs-within-bucket join is quadratic
    * in duplicate-cluster size (a 10k-copy boilerplate cluster → 10^8
    * pairs). Instead each bucket elects a keeper (min doc_id) via a
    * partial-aggregating groupBy — LINEAR in bucket size — and every doc
    * is verified against only its best (lowest-id) candidate keeper: one
    * output row per duplicate document, which is also the semantics a
    * dedup pipeline actually wants (keep one, drop the rest).
    *
    * The per-doc feature frame (band buckets + token set) is computed in
    * ONE scan of `documents` and persisted; the banded branch and both
    * sides of the exact-verify join read the cache instead of re-scanning
    * and re-tokenizing (Spark shares no subplans across DataFrame
    * branches — at 100 TB this is the difference between one corpus read
    * and three). Deterministic; ORACLE-EXACT since the md5-window hash
    * family landed (r15): every hash in the pipeline is derivable by
    * DuckDB from the same text, so the whole election is recomputed by
    * an independent engine (the mm_phash_dedup treatment applied to the
    * text family). */
  /** Shared MinHash feature frame for [[ddMinhash]] / [[ddMinhashCc]]:
    * one scan of `documents` → (doc_id, bands, toks), persisted.
    *
    * Bucket values per band come from one fused JVM pass over the raw
    * text: tokenize (lower, split on space, len>3 — same rule as the
    * builtin `tokens` used by the verify joins; duplicates don't move a
    * min, so no distinct needed), then a PORTABLE md5-derived minhash
    * family (r15, replacing the seeded fnv/fmix kernel): one md5 per
    * token, and permutation i (0..31) orders tokens by the 15-hex-char
    * window read circularly from offset i of the digest, parsed as a
    * 60-bit Long — the one-hash-many-orderings trick (cf. Li/Owen/Zhang
    * one-permutation hashing): for uniform hex digits the 32 window
    * orderings behave as near-independent permutations, and EVERY step
    * is SQL-expressible (`('0x' || substr(h || h, i+1, 15))::BIGINT` in
    * DuckDB), which is what buys the family its exact oracle. Band
    * bucket b = the same 60-bit window at offset 0 of md5 over the
    * band's 4 mins rendered in decimal, comma-joined — Long buckets, so
    * the incremental index's pmod sharding and parquet layout are
    * unchanged. Cost vs the fmix kernel: one MessageDigest MD5 per
    * token (~0.5 µs) — measured at sf1 within noise of the old kernel
    * (the exact-verify join dominates; SURVEY §6.12). Taking the string
    * instead of a token array keeps the interpreted higher-order
    * filter/transform lambdas out of the per-row hot path entirely.
    * Both dedup queries share the SAME cache key, so running one warms
    * the other — and neither ever re-scans the corpus for a second plan
    * branch. */
  private val mhHashes = 32
  private val mhBands = 8
  /** Minhash token gate: only tokens LONGER than this enter the
    * signature (the `t.length > mhTokMinLen` fast path below — shared
    * by the simhash kernel). Part of [[minhashKernelId]]. */
  private val mhTokMinLen = 3
  /** The exact-Jaccard verify bar (integer percent) — the default every
    * verify/oracle path shares, and a [[minhashKernelId]] component. */
  private[graft] val mhVerifyPct = 50L

  /** Deterministic 16-hex fingerprint of a kernel's defining constants —
    * the canonical `k=v;…` string under an MD5 prefix (stable across
    * JVMs and runs, unlike Any.hashCode on case classes with arrays).
    * Folded into every `_incr` family's famPrefix so a KERNEL change
    * moves the index base automatically (r19): the version identity
    * (split, src mtime, shards) pins the corpus, this pins the code —
    * previously a hand-bump discipline (mh→mh2, sh→sh2) that a
    * forgotten edit would silently violate, serving a stale index whose
    * bands the new kernel can never hit. 64 bits, not the original
    * 32-bit MurmurHash3 (ADVICE r19): at 32 bits a kernel-knob edit had
    * a ~2^-32 chance of colliding with the prior fingerprint and
    * silently adopting a stale index — the exact failure the mechanism
    * exists to eliminate, and undetectable when it hits. */
  private[graft] def kernelFp(parts: (String, Any)*): String = {
    val canon = parts.map { case (k, v) => s"$k=$v" }.mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).take(8)
      .map(b => f"${b & 0xff}%02x").mkString
  }

  /** The minhash family's kernel identity: every constant whose change
    * invalidates a persisted (bands, toks) index. The string-valued
    * entries label rule-shaped knobs (tokenizer, hash family) that have
    * no single numeric constant; a structural rewrite of one of those
    * must update its label — a far smaller discipline than remembering
    * a whole famPrefix bump, and the numeric knobs are now mechanical. */
  private[graft] def minhashKernelId: Seq[(String, Any)] = Seq(
    "tok" -> s"lower-space-len>$mhTokMinLen",
    "hashfam" -> "md5-window60-circular",
    "hashes" -> mhHashes,
    "bands" -> mhBands,
    "bucket" -> "md5-top60-of-joined-mins",
    "verify" -> s"jaccardPct>=$mhVerifyPct")
  private[graft] def minhashKernelFp: String = kernelFp(minhashKernelId: _*)

  /** SimHash family kernel identity — see [[minhashKernelId]]. */
  private[graft] def simhashKernelId: Seq[(String, Any)] = Seq(
    "tok" -> s"lower-space-len>$mhTokMinLen-distinct",
    "hashfam" -> "md5-hi64",
    "bits" -> 64,
    "bands" -> 8,
    "bandBits" -> 8,
    "verify" -> s"hamming<=$shHamMax")
  private[graft] def simhashKernelFp: String = kernelFp(simhashKernelId: _*)

  /** Embedding-LSH family kernel identity — see [[minhashKernelId]]. */
  private[graft] def embKernelId: Seq[(String, Any)] = Seq(
    "hashfam" -> "gaussian-hyperplane-sign",
    "dim" -> embDim,
    "planes" -> embPlanes,
    "bands" -> embBandsN,
    "seed" -> embSeed,
    "verify" -> s"cos>=$embCosMin")
  private[graft] def embKernelFp: String = kernelFp(embKernelId: _*)
  /** MessageDigest is stateful and not thread-safe; per-token
    * getInstance would dominate the kernel. One instance per executor
    * thread. */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  /** MD5 digest bytes of the UTF-8 string — the value Spark's builtin
    * `md5()` and DuckDB's `md5()` hex-encode. The kernels below work on
    * the raw 128 bits directly; the hex form exists only on the SQL
    * side. */
  private def md5Bytes(s: String): Array[Byte] = {
    val d = md5Local.get()
    d.reset()
    d.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
  /** 8 digest bytes at `off` as a big-endian Long — byte k of the
    * digest holds hex chars 2k, 2k+1, so this Long's bits ARE hex chars
    * 2·off .. 2·off+15 in display order. */
  private def longBE(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = off
    while (i < off + 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }
  /** The 60-bit window at hex offset `off` (0..31) of a 128-bit digest
    * given as two big-endian Longs — bit-identical to parsing 15 hex
    * chars read circularly from the digest's hex form (the SQL twin
    * `('0x' || substr(h || h, off + 1, 15))::BIGINT`): hex char j is
    * nibble j from the top, so the window is the rotated-left-by-4·off
    * value's top 60 bits. Six shift/or ops replace 15 table lookups —
    * measured 2.5× off the kernel's per-token cost (§6.12), same bits
    * (the SemanticsSpec declarative twin + the DuckDB oracle both pin
    * it). */
  private def window60(hi: Long, lo: Long, off: Int): Long = {
    val k = off << 2
    val nhi =
      if (k == 0) hi
      else if (k < 64) (hi << k) | (lo >>> (64 - k))
      else if (k == 64) lo
      else (lo << (k - 64)) | (hi >>> (128 - k))
    nhi >>> 4
  }
  private lazy val mhBandBuckets = udf((text: String) => {
    val rowsPerBand = mhHashes / mhBands
    if (text == null) Array.empty[Long]
    else {
      val mins = Array.fill(mhHashes)(Long.MaxValue)
      Text.lowerLikeSpark(text).split(" ").foreach { t =>
        if (t.length > mhTokMinLen) {
          val d = md5Bytes(t)
          val hi = longBE(d, 0)
          val lo = longBE(d, 8)
          var i = 0
          while (i < mhHashes) {
            val hv = window60(hi, lo, i)
            if (hv < mins(i)) mins(i) = hv
            i += 1
          }
        }
      }
      if (mins(0) == Long.MaxValue) Array.empty[Long] // no tokens → no bands
      else Array.tabulate(mhBands) { b =>
        val sb = new java.lang.StringBuilder(80)
        var j = 0
        while (j < rowsPerBand) {
          if (j > 0) sb.append(',')
          sb.append(mins(b * rowsPerBand + j))
          j += 1
        }
        // band bucket = the offset-0 window = the digest's top 60 bits
        longBE(md5Bytes(sb.toString), 0) >>> 4
      }
    }
  })

  /** (doc_id, bands, toks) over an arbitrary `(doc_id, text)` frame —
    * the one banding rule shared by the full-corpus cache, the index
    * build and the increment probe, so their bucket values can never
    * drift. Tokenizer shared from Text for the same reason. */
  private[graft] def minhashFeatOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), mhBandBuckets(col("text")).as("bands"),
      Text.tokens(col("text")).as("toks"))

  private def minhashFeat(s: SparkSession, dir: String): DataFrame =
    RunCaches.cachedFeature(s, s"dd_minhash:$dir", RunCaches.srcVersion(s, dir, "documents.parquet")) {
      minhashFeatOf(T(s, dir).documents)
    }

  /** (doc_id, band, bucket) exploded banding of a feature frame — the
    * one banding expansion shared by the batch dedup, the index build
    * and the increment probe. */
  private[operators] def bandedOf(feat: DataFrame): DataFrame =
    feat.select(col("doc_id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** The exact-Jaccard verify tail shared by [[minhashDedupOf]] and
    * [[probeIndex]]: join (doc_id, keeper) candidates to both
    * token sides and keep pairs at ≥ 50% Jaccard. ONE definition — the
    * probe==batch equality contract rests on the threshold and the
    * integer-div expression never diverging between the two callers. */
  private def jaccardVerifyRaw(cand: DataFrame, d: DataFrame,
      keeperToks: DataFrame, minPct: Long = mhVerifyPct): DataFrame =
    cand
      .join(d, Seq("doc_id"))
      .join(keeperToks, Seq("keeper"))
      .withColumn("inter", size(array_intersect(col("toks"), col("k_toks"))).cast("long"))
      // |A∪B| = |A|+|B|−|A∩B| EXACTLY here: both sides are
      // array_distinct token sets (minhashFeatOf) and size>0-filtered,
      // so materializing array_union would only re-derive three known
      // sizes — it was ~half the verify stage's CPU, which is the
      // whole-query hot spot once LSH has cut candidates to O(docs)
      // (r14 sf10 profile). Spark and DuckDB agree on the identity for
      // duplicate-free arrays; the family's probe≡batch specs run both
      // paths through this one definition.
      //
      // `minPct` (r18): the verify bar, default the family's 50. The
      // composed pipeline's wide twin raises it (only heavy near-dups
      // leave the flow) — parameterized HERE, the one definition, so the
      // variants share every expression of the verify tail.
      .withColumn("uni",
        (size(col("toks")) + size(col("k_toks"))).cast("long") - col("inter"))
      .filter(col("uni") > lit(0L) && expr("(inter * 100) div uni") >= lit(minPct))
      .select(col("doc_id"), col("keeper"), expr("(inter * 100) div uni").as("jaccard_pct"))

  /** Presentation form: the raw verify plus the catalog ordering. The
    * cc query consumes [[jaccardVerifyRaw]] directly — its edges feed
    * straight into connectedComponents' own repartitioning, and a
    * global range-sort exchange of the edge set would be pure waste
    * there (r13 third sweep). */
  private def jaccardVerify(cand: DataFrame, d: DataFrame,
      keeperToks: DataFrame, minPct: Long = mhVerifyPct): DataFrame =
    jaccardVerifyRaw(cand, d, keeperToks, minPct).orderBy(col("doc_id"))

  /** [[ddMinhash]]'s whole election + verify pipeline over a
    * (doc_id, bands, toks) feature frame — factored so the incremental
    * probe's equality spec can recompute the batch answer over any
    * corpus slice through the exact code the catalog query runs. */
  private[graft] def minhashDedupOf(feat: DataFrame, minPct: Long = mhVerifyPct): DataFrame = {
    val d = feat.select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) > lit(0))
    val banded = bandedOf(feat)
    // keeper per (band, bucket) = min doc_id via a partial-aggregating
    // groupBy (map-side combine + AQE skew splitting; the window-min
    // alternative shuffles every banded row and lands each mega-bucket
    // in a single task), then best (lowest) candidate keeper per doc
    val keepers = banded.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("keeper"))
    val cand = banded.join(keepers, Seq("band", "bucket"))
      .filter(col("keeper") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("keeper")).as("keeper"))
    // exact verify: fetch token sets for both sides (linear joins on id)
    jaccardVerify(cand, d,
      d.select(col("doc_id").as("keeper"), col("toks").as("k_toks")), minPct)
  }

  /** Oracle-side exact-Jaccard verify tail — ONE definition for every
    * pair source, mirroring the Scala side's jaccardVerifyRaw
    * discipline: the bar (`minPct`, default the family's 50; the
    * composed pipeline's wide twin raises it) and the integer-division
    * expression must never fork between the keeper-election oracles
    * (`ve` over the per-doc min-keeper `cand`) and the cc oracle (`vec`
    * over the full star-edge set `cande`) — a threshold edited in one
    * CTE but not the other would silently diverge one family's oracle
    * (review r16).
    * Declared BEFORE [[mhOracleCtes]]: object vals initialize in order,
    * and a forward reference here would bake a null into the SQL. */
  private val mhJacPct = "(inter * 100) // (sz - inter)"
  private def mhVerifyCtes(pairCte: String, vrName: String, veName: String,
      withJaccardCol: Boolean, minPct: Long = mhVerifyPct): String = s"""
      $vrName AS (
        SELECT c.doc_id AS doc_id, c.keeper AS keeper,
          CAST(length(list_intersect(a.toks, k.toks)) AS BIGINT) AS inter,
          CAST(length(a.toks) AS BIGINT)
            + CAST(length(k.toks) AS BIGINT) AS sz
        FROM $pairCte c
        JOIN ts a ON a.doc_id = c.doc_id
        JOIN ts k ON k.doc_id = c.keeper),
      $veName AS (
        SELECT doc_id, keeper${if (withJaccardCol) s", $mhJacPct AS jaccard_pct" else ""}
        FROM $vrName
        WHERE sz - inter > 0 AND $mhJacPct >= $minPct)"""

  /** DuckDB re-derivation of the ENTIRE minhash pipeline — tokenize,
    * per-token md5, 32 circular 15-hex windows, per-window mins, band
    * buckets, keeper election, candidate assignment, exact-Jaccard
    * verify — shared by the three family oracles. Every expression is
    * the SQL twin of the fused kernel above; the `ve` CTE is the
    * verified (doc_id, keeper, jaccard_pct) row set the batch query
    * returns, which the incr/cc variants filter or close over. */
  /** [[mhOracleCtes]] with the corpus source parameterized — the
    * composed-pipeline oracle (`pipe_e2e`) recomputes the SAME election
    * over its decontaminated survivor CTE instead of raw `documents`;
    * one generator, so the two can never drift on a kernel expression
    * (r17). `src` must expose (doc_id, text). */
  private[operators] def mhOracleCtesOver(src: String, minPct: Long = mhVerifyPct): String = s"""
      tok AS (
        SELECT doc_id,
          unnest(list_distinct(list_filter(string_split(lower(text), ' '),
            x -> length(x) > 3))) AS t
        FROM $src),
      th AS (SELECT doc_id, md5(t) AS h FROM tok),
      mh AS (
        SELECT doc_id, i,
          MIN(('0x' || substr(h || h, CAST(i + 1 AS INT), 15))::BIGINT) AS m
        FROM th, range(32) r(i) GROUP BY doc_id, i),
      bands AS (
        SELECT doc_id, i // 4 AS band,
          ('0x' || substr(md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i)),
            1, 15))::BIGINT AS bucket
        FROM mh GROUP BY doc_id, i // 4),
      keep AS (
        SELECT band, bucket, MIN(doc_id) AS keeper
        FROM bands GROUP BY band, bucket),
      cand AS (
        SELECT b.doc_id, MIN(k.keeper) AS keeper
        FROM bands b JOIN keep k ON k.band = b.band AND k.bucket = b.bucket
        WHERE k.keeper < b.doc_id GROUP BY b.doc_id),
      ts AS (
        SELECT doc_id,
          list_distinct(list_filter(string_split(lower(text), ' '),
            x -> length(x) > 3)) AS toks
        FROM $src
        WHERE toks IS NOT NULL AND length(toks) > 0),
      """ + mhVerifyCtes("cand", "vr", "ve", withJaccardCol = true, minPct)

  private[operators] val mhOracleCtes = mhOracleCtesOver("documents")

  val ddMinhash = QueryDef(
    "dd_minhash",
    // ONE pass over documents: band buckets + token set per doc, cached
    // for the three consumers inside (banding, verify doc side, verify
    // keeper side).
    (s, dir) => minhashDedupOf(minhashFeat(s, dir)),
    oracle = Some(s"""
      WITH $mhOracleCtes
      SELECT doc_id, keeper, jaccard_pct FROM ve ORDER BY doc_id"""),
    headline = true)

  /** Transitive MinHash dedup clustering: [[ddMinhash]]'s candidate
    * generation, but instead of electing one keeper per document, the
    * verified candidate pairs become edges of a duplicate GRAPH and
    * every connected component collapses to one cluster — the semantics
    * a corpus-level dedup actually needs (A≈B and B≈C put A, B, C in
    * ONE cluster keyed by min doc_id, even when A and C never share a
    * bucket and their direct Jaccard is below threshold). Per-bucket
    * keeper election cannot express this transitivity; large-scale
    * dedup pipelines run exactly this candidate→verify→components
    * sequence over web corpora.
    *
    * Scale shape, stage by stage: candidate edges are the per-bucket
    * STAR edges (doc → bucket-min) — linear in bucket size, never
    * all-pairs-within-bucket; a star reaches every co-bucketed doc, so
    * CANDIDATE-stage bucket connectivity is fully preserved. Post-verify
    * the guarantee is narrower (the standard LSH-star recall trade-off):
    * two true near-dups co-bucketed with a dissimilar bucket-min keep
    * their link only through edges that pass the bar, so a pair whose
    * star edges BOTH fail the 50% verify loses a link an
    * all-pairs-per-bucket candidate set would have kept — that residual
    * recall gap is the price of the linear edge count (the pair usually
    * still meets through another band whose bucket-min is similar to
    * both). Each distinct candidate
    * edge (≤ nBands per doc) is verified by exact Jaccard ≥ 50% before
    * it can merge clusters (LSH false positives die here, so components
    * only ever contain verified-duplicate links); components come from
    * [[ScaleOps.connectedComponents]] (min-label propagation + pointer
    * jumping, bounded iterations, no driver collect). Reads the same
    * persisted single-scan feature frame as `dd_minhash`. Output: one
    * row per clustered doc — (doc_id, cluster_id, cluster_size) with
    * cluster_id = the component's min doc_id (cluster members with
    * doc_id == cluster_id are the kept representatives; the rest are
    * the drop set). Deterministic; ORACLE-EXACT (r15): DuckDB closes
    * the verified edge set with a recursive CTE (node → reachable,
    * label = MIN reachable) — a transitive-closure statement of the
    * semantics that Spark must match with the actual iterative
    * min-label/pointer-jump computation, the g1_components discipline
    * applied to the dedup graph. Transitive-chain fixture in
    * SemanticsSpec. */
  val ddMinhashCc = QueryDef(
    "dd_minhash_cc",
    (s, dir) => {
      val feat = minhashFeat(s, dir)
      val d = feat.select(col("doc_id"), col("toks"))
        .filter(size(col("toks")) > lit(0))
      val banded = bandedOf(feat)
      val keepers = banded.groupBy(col("band"), col("bucket"))
        .agg(min(col("doc_id")).as("keeper"))
      // distinct star edges (a doc pairs with ≤ nBands bucket-mins)
      val candEdges = banded.join(keepers, Seq("band", "bucket"))
        .filter(col("keeper") < col("doc_id"))
        .select(col("doc_id"), col("keeper"))
        .distinct()
      // exact verify every edge through the ONE shared Jaccard tail
      // (threshold and integer-div expression live in jaccardVerify
      // alone — cc edges must merge under the same bar the keeper
      // dedup reports): only true near-dup links may merge
      val verified = jaccardVerifyRaw(candEdges, d,
          d.select(col("doc_id").as("keeper"), col("toks").as("k_toks")))
        .select(col("doc_id").as("a"), col("keeper").as("b"))
      val comp = ScaleOps.connectedComponents(verified, "a", "b")
      comp
        .join(comp.groupBy(col("label")).agg(count(lit(1)).as("cluster_size")),
          Seq("label"))
        .select(col("node").as("doc_id"), col("label").as("cluster_id"),
          col("cluster_size"))
        .orderBy(col("doc_id"))
    },
    oracle = Some(s"""
      WITH RECURSIVE $mhOracleCtes,
      cande AS (
        SELECT DISTINCT b.doc_id, k.keeper
        FROM bands b JOIN keep k ON k.band = b.band AND k.bucket = b.bucket
        WHERE k.keeper < b.doc_id),
      ${mhVerifyCtes("cande", "vrc", "vec", withJaccardCol = false)},
      edges AS (
        SELECT doc_id AS a, keeper AS b FROM vec
        UNION
        SELECT keeper, doc_id FROM vec),
      reach(n, r) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT reach.n, e.b FROM reach JOIN edges e ON e.a = reach.r),
      lab AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
      siz AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_id)
      SELECT l.doc_id, l.cluster_id, s.cluster_size
      FROM lab l JOIN siz s USING (cluster_id)
      ORDER BY doc_id"""))

  /** SimHash near-dup: 64-bit simhash from per-token avalanche hashes,
    * banded by 8×8 bits, hamming distance verified against a ≤ 6
    * duplicate threshold.
    *
    * Emits one row per document that has ANY keeper candidate — with its
    * hamming distance and the `is_dup` verdict — rather than only the
    * passing pairs: on a corpus with no near-dups a filtered result is
    * empty and proves nothing, while the candidate report stays
    * non-empty and checkable on any corpus (planted-dup fixture pins the
    * verdict semantics). Deterministic; ORACLE-EXACT since the md5
    * token hash landed (r15): the 64-bit per-token hash is the FIRST 16
    * hex chars of md5(token), so DuckDB re-derives every bit with
    * per-nibble arithmetic (`instr('0123456789abcdef', …) − 1` then
    * shift/mask — no unsigned-64 type needed on either side) and
    * recomputes the majority vote, the 8×8 banding, the election and
    * the hamming verify from the same text. */
  /** Fused JVM simhash kernel from raw text (tokenize + set-dedupe +
    * 64-bit majority vote) — simhash bit counts DO depend on
    * multiplicity, so unlike minhash the distinct step is kept (hash
    * set). Returns null for token-free docs, which the isNotNull filter
    * drops like minhash's size(toks)>0 guard. Token hash = the md5
    * digest's first 16 hex chars parsed unsigned (bit 0 = the LSB of
    * hex char 16, i.e. bit i lives at char 16 − i/4, nibble bit i%4) —
    * replacing the seeded fnv/fmix hash with the portable family that
    * buys the oracle (r15, same move as minhash's window hashes). */
  private val simhashUdf = udf((text: String) => {
    if (text == null) Option.empty[Long]
    else {
      val seen = new java.util.HashSet[String]()
      val counts = new Array[Int](64)
      var any = false
      Text.lowerLikeSpark(text).split(" ").foreach { t =>
        if (t.length > mhTokMinLen && seen.add(t)) {
          any = true
          // == parseUnsignedLong(first 16 hex chars): byte k holds hex
          // chars 2k..2k+1, so the first 8 bytes big-endian ARE them
          val h = longBE(md5Bytes(t), 0)
          var i = 0
          while (i < 64) {
            if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
            i += 1
          }
        }
      }
      if (!any) Option.empty[Long]
      else {
        var sim = 0L
        var i = 0
        while (i < 64) { if (counts(i) > 0) sim |= (1L << i); i += 1 }
        Some(sim)
      }
    }
  })

  /** [[simhashUdf]] marked non-deterministic — the pure function is
    * unchanged; the mark stops Catalyst duplicating the kernel when it
    * pushes `simhash IS NOT NULL` below the projection (guide §4.4; the
    * same r20 fix as Text.shingles3Once). Every caller pre-filters its
    * frame (doc_id splits are written upstream of the projection), so
    * nothing useful is blocked from pushing down. */
  private val simhashUdfOnce = simhashUdf.asNondeterministic()

  /** (doc_id, simhash) over an arbitrary `(doc_id, text)` frame — the
    * one simhash rule shared by the batch dedup, the index build and
    * the increment probe, so their fingerprints can never drift. */
  private[graft] def simhashFeatOf(docs: DataFrame): DataFrame =
    docs.withColumn("simhash", simhashUdfOnce(col("text")))
      .filter(col("simhash").isNotNull)
      .select(col("doc_id"), col("simhash"))

  /** (doc_id, band, bucket) banding of a simhash frame: 8 bands of 8
    * bits — the one banding expansion shared by batch, build and probe. */
  private def simhashBandedOf(withSim: DataFrame): DataFrame =
    withSim.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(7)), b =>
        call_function("shiftright", col("simhash"), b * lit(8))
          .bitwiseAND(lit(255L)))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** The hamming verify tail shared by [[simhashDedupOf]] and
    * [[probeIndex]] — ONE definition, so the probe==batch
    * equality contract cannot drift on the distance or threshold. */
  private def hammingVerify(cand: DataFrame, dSim: DataFrame,
      kSim: DataFrame): DataFrame =
    cand.join(dSim, Seq("doc_id")).join(kSim, Seq("keeper"))
      .withColumn("hamming", bit_count(col("d_sim").bitwiseXOR(col("k_sim"))).cast("long"))
      .withColumn("is_dup", col("hamming") <= lit(shHamMax))
      .select(col("doc_id"), col("keeper"), col("hamming"), col("is_dup"))
      .orderBy(col("doc_id"))

  /** [[ddSimhash]]'s whole election + verify pipeline over a
    * (doc_id, simhash) frame — factored so the incremental probe's
    * equality spec can recompute the batch answer over any corpus slice
    * through the exact code the catalog query runs. Same linear
    * keeper-assignment shape as dd_minhash: partial-agg min per bucket,
    * one verified candidate per doc — no all-pairs join. */
  private[graft] def simhashDedupOf(withSim: DataFrame): DataFrame = {
    val banded = simhashBandedOf(withSim)
    val keepers = banded.groupBy(col("band"), col("bucket"))
      .agg(min(col("doc_id")).as("keeper"))
    val cand = banded.join(keepers, Seq("band", "bucket"))
      .filter(col("keeper") < col("doc_id"))
      .groupBy(col("doc_id")).agg(min(col("keeper")).as("keeper"))
    hammingVerify(cand,
      withSim.select(col("doc_id"), col("simhash").as("d_sim")),
      withSim.select(col("doc_id").as("keeper"), col("simhash").as("k_sim")))
  }

  /** DuckDB re-derivation of the ENTIRE simhash pipeline. Bit i of the
    * 64-bit token hash (first 16 hex chars of md5, unsigned) lives at
    * hex char 16 − i/4, nibble bit i%4 — extracted with
    * `instr('0123456789abcdef', c) − 1` then shift/mask, so no side
    * needs an unsigned-64 type: the majority vote, the 8×8-bit banding
    * (bucket = Σ bit·2^(i mod 8) per band, a 0..255 int), the keeper
    * election and the hamming count (Σ differing bits) are all small-
    * integer SQL. `sb` is the per-(doc, bit) majority verdict; docs
    * with no qualifying tokens never enter `tok` — the kernel's null
    * return. */
  private val shOracleCtes = """
      tok AS (
        SELECT doc_id,
          unnest(list_distinct(list_filter(string_split(lower(text), ' '),
            x -> length(x) > 3))) AS t
        FROM documents),
      th AS (SELECT doc_id, md5(t) AS h FROM tok),
      bits AS (
        SELECT doc_id, i,
          CASE WHEN
            ((instr('0123456789abcdef',
                substr(h, CAST(16 - i // 4 AS INT), 1)) - 1) >> (i % 4)) & 1
            = 1 THEN 1 ELSE -1 END AS v
        FROM th, range(64) r(i)),
      sb AS (
        SELECT doc_id, i, CASE WHEN SUM(v) > 0 THEN 1 ELSE 0 END AS b
        FROM bits GROUP BY doc_id, i),
      bands AS (
        SELECT doc_id, i // 8 AS band,
          CAST(SUM(b << CAST(i % 8 AS INT)) AS BIGINT) AS bucket
        FROM sb GROUP BY doc_id, i // 8),
      keep AS (
        SELECT band, bucket, MIN(doc_id) AS keeper
        FROM bands GROUP BY band, bucket),
      cand AS (
        SELECT b.doc_id, MIN(k.keeper) AS keeper
        FROM bands b JOIN keep k ON k.band = b.band AND k.bucket = b.bucket
        WHERE k.keeper < b.doc_id GROUP BY b.doc_id),
      ve AS (
        SELECT c.doc_id, c.keeper,
          CAST(SUM(CASE WHEN d.b <> k.b THEN 1 ELSE 0 END) AS BIGINT) AS hamming
        FROM cand c
        JOIN sb d ON d.doc_id = c.doc_id
        JOIN sb k ON k.doc_id = c.keeper AND k.i = d.i
        GROUP BY c.doc_id, c.keeper)"""

  val ddSimhash = QueryDef(
    "dd_simhash",
    // ONE kernel pass over documents, persisted: the banded branch and
    // both sides of the hamming verify read the narrow (doc_id, simhash)
    // cache instead of re-running the kernel per plan branch
    (s, dir) => simhashDedupOf(RunCaches.cachedFeature(s, s"dd_simhash:$dir", RunCaches.srcVersion(s, dir, "documents.parquet")) {
      simhashFeatOf(T(s, dir).documents)
    }),
    oracle = Some(s"""
      WITH $shOracleCtes
      SELECT doc_id, keeper, hamming, hamming <= 6 AS is_dup FROM ve
      ORDER BY doc_id"""))

  /** Embedding-cosine near-dup (driver brief's fifth dedup modality):
    * LSH band buckets propose candidate pairs, exact cosine scores each
    * doc against its best keeper candidate; `is_dup` marks cosine ≥ 0.40
    * (the synthetic embeddings are near-orthogonal — max pairwise cosine
    * ≈ 0.51 — so the production-style 0.95 threshold is tuned down; the
    * shape is threshold-independent). Like dd_simhash, the full candidate
    * report is emitted — a filtered-only result is vacuous on a corpus
    * without planted dups. Candidate generation is the linear keeper
    * shape: min vec_id per bucket, one verified candidate per vector —
    * no all-pairs join. */
  /** The one embedding-LSH banding rule (8 bands × 2 bits: high recall
    * at low-cosine pairs) shared by the batch dedup, the index build
    * and the increment probe. A stable val: the hyperplanes are drawn
    * once from the fixed seed, so every consumer bands identically. */
  private[graft] val shHamMax = 6L
  private val embDim = 64
  private val embPlanes = 16
  private val embBandsN = 8
  private val embSeed = 1337L
  private val embCosMin = 0.40
  private val embBandsUdf =
    hyperplaneBandsUdf(dim = embDim, nPlanes = embPlanes,
      nBands = embBandsN, seed = embSeed)

  /** (vec_id, v, bands, norm) over an arbitrary embeddings frame. */
  private[graft] def embFeatOf(embs: DataFrame): DataFrame =
    embs.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("bands", embBandsUdf(col("v")))
      .withColumn("norm", sqrt(dotDouble(col("v"), col("v"))))

  private def embBandedOf(feat: DataFrame): DataFrame =
    feat.select(col("vec_id"), posexplode(col("bands")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** The exact-cosine verify tail shared by [[embDedupOf]] and
    * [[probeIndex]] — ONE definition, so the probe==batch
    * equality contract cannot drift on the score or threshold.
    * Degenerate pairs are EXCLUDED like [[rankTop5]]'s guard, not
    * emitted: a zero-norm side would make cos 0/0 = NaN — which
    * `round(..).cast("long")` throws on under ANSI mode (this engine
    * never disables it) and which compares NaN-greatest without it,
    * marking garbage a duplicate — and a ragged/null-element side
    * nulls the dot, which would emit a three-valued (NULL, NULL)
    * verdict row no boolean consumer expects. The other two verify
    * tails already guard their analogs (`uni > 0`, simhash isNotNull). */
  private def cosineVerify(cand: DataFrame, dSide: DataFrame,
      kSide: DataFrame): DataFrame =
    cand
      .join(dSide, Seq("vec_id"))
      .join(kSide, Seq("keeper"))
      .withColumn("cos", when(col("norm") > lit(0.0) && col("kn") > lit(0.0),
        dotDouble(col("v"), col("kv")) / (col("norm") * col("kn"))))
      .filter(col("cos").isNotNull && !isnan(col("cos")))
      .withColumn("is_dup", col("cos") >= lit(embCosMin))
      .select(col("vec_id"), col("keeper"),
        round(col("cos") * lit(1000000), 0).cast("long").as("cos_q6"),
        col("is_dup"))
      .orderBy(col("vec_id"))

  /** [[ddEmbedding]]'s whole election + verify pipeline over a feature
    * frame — factored so the incremental probe's equality spec can
    * recompute the batch answer over any corpus slice through the exact
    * code the catalog query runs. */
  private[graft] def embDedupOf(feat: DataFrame): DataFrame = {
    val banded = embBandedOf(feat)
    val keepers = banded.groupBy(col("band"), col("bucket"))
      .agg(min(col("vec_id")).as("keeper"))
    val cand = banded.join(keepers, Seq("band", "bucket"))
      .filter(col("keeper") < col("vec_id"))
      .groupBy(col("vec_id")).agg(min(col("keeper")).as("keeper"))
    val withNorm = feat.select(col("vec_id"), col("v"), col("norm"))
    cosineVerify(cand, withNorm,
      withNorm.select(col("vec_id").as("keeper"), col("v").as("kv"),
        col("norm").as("kn")))
  }

  val ddEmbedding = QueryDef(
    "dd_embedding",
    // ONE pass over embeddings: LSH bands + norm per vector, persisted
    // for the banding branch and both exact-verify join sides
    (s, dir) => embDedupOf(RunCaches.cachedFeature(s, s"dd_embedding:$dir", RunCaches.srcVersion(s, dir, "embeddings.parquet")) {
      embFeatOf(T(s, dir).embeddings)
    }),
    oracle = None)

  /** IVF-style ANN top-k with a one-step Lloyd-refined coarse quantizer:
    * seed centroids = the first nCells corpus vectors (deterministic),
    * one assign → per-cell mean → re-assign refinement (the k-means
    * iteration a real IVF index build runs to convergence; one step is
    * the bench-scale stand-in with the identical dataflow). Queries probe
    * their nProbe nearest cells and re-rank exactly inside them.
    *
    * The 100 TB shape: cell assignment is a PER-ROW argmax kernel over
    * the centroid array (collected once — bounded at nCells rows — and
    * closed over like a broadcast variable), so the corpus is never
    * join-exploded or shuffled to pick its cell; centroid training
    * touches only narrow (cell, pos, component) rows with partial
    * aggregation; probes touch nProbe/nCells of the data and re-rank
    * through the bounded top-k heap. */
  /** (cell, vector, norm) triples for the kernel closures. The collect
    * is the index-build step, bounded at nCells rows; norms are
    * recomputed driver-side with the same left-to-right accumulation
    * as dotDouble, so scores are bit-identical to the join form. */
  private def collectCentroids(df: DataFrame): Array[(Long, Array[Float], Double)] =
    // null vectors AND vectors holding a null ELEMENT are skipped,
    // zero-norm ones fall to the norm filter — a null/degenerate seed
    // row must not take down quantizer training (the element case NPE'd
    // on the unboxing toArray before the r13 re-sweep)
    df.collect()
      .filterNot(r => r.isNullAt(1) || r.getSeq[Any](1).contains(null))
      .map { r =>
        val cv = r.getSeq[Float](1).toArray
        var acc = 0.0
        var i = 0
        while (i < cv.length) { acc += cv(i).toDouble * cv(i).toDouble; i += 1 }
        (r.getLong(0), cv, math.sqrt(acc))
      }.filter(_._3 > 0.0).sortBy(_._1)

  /** Per-row argmax over the broadcast centroid array — no join-explode,
    * no Exchange: each row ranks all centroids locally and keeps the
    * `keep` best cells (ccos desc, cell asc). Zero-norm vectors yield the
    * EMPTY array: single-cell callers must read it with `get(.., 0)`
    * (null out of bounds) — `element_at(.., 1)` throws under ANSI mode,
    * which this engine never disables. */
  private def nearestCells(cents: Array[(Long, Array[Float], Double)], keep: Int) =
    udf((v: Seq[Float], norm: Double) =>
      // `!(norm > 0.0)` (not `norm <= 0.0`) so a NaN norm — one NaN
      // component poisons the dot — is degenerate too: NaN fails every
      // comparison, so the old form assigned the vector a cell and the
      // Lloyd step's ANSI decimal cast then threw on the NaN component.
      // The 1e18 ceiling keeps every |component| (≤ norm) inside
      // decimal(28,10)'s 18 integer digits for the same cast; +Inf norms
      // land here as well. Degenerate ⇒ empty array ⇒ row excluded,
      // the documented posture for zero-norm/ragged vectors.
      if (v == null || !(norm > 0.0) || norm >= 1e18) Array.empty[Long]
      else cents.flatMap { case (cell, cv, cn) =>
        // dimension mismatch = malformed, same contract as the LSH
        // banding kernel ("a truncated vector must surface as malformed
        // at the signature stage, not band plausibly from a partial dot
        // product"): a ragged vector matches NO cell (empty array ⇒ the
        // row is excluded as degenerate) instead of being indexed under
        // a shared-prefix score (r13 re-sweep)
        if (v.length != cv.length) None
        else {
          var acc = 0.0
          var i = 0
          while (i < v.length) { acc += v(i).toDouble * cv(i).toDouble; i += 1 }
          Some((acc / (norm * cn), cell))
        }
      }.sortBy { case (ccos, cell) => (-ccos, cell) }.take(keep).map(_._2))

  /** One-Lloyd-step coarse quantizer over a (vec_id, v, norm) frame:
    * seeds = first nCells vectors, one assign → decimal-mean refine. */
  private def trainCentroids(
      e: DataFrame, nCells: Int): Array[(Long, Array[Float], Double)] = {
    val seeds = collectCentroids(
      e.filter(col("vec_id") < lit(nCells.toLong)).select(col("vec_id"), col("v")))
    // Lloyd step: assign to seed cells (kernel, zero shuffle), recompute
    // element-wise means over narrow (cell, pos) rows.
    // explode, not get(..,0)+filter(isNotNull) (r20): the filter form
    // pushed `isnotnull(UDF(v,norm)[0])` below the projection, so the
    // O(nCells × dim) scoring kernel ran TWICE per row (guide §4.4
    // duplication, attributed in the r20 sf10 stage dump); a Generate
    // evaluates its generator exactly once, and explode drops the
    // empty-array degenerate rows the filter used to drop — identical
    // rows out, half the kernel cost.
    val assigned0 = e
      .select(explode(nearestCells(seeds, 1)(col("v"), col("norm"))).as("cell"),
        col("v"))
    collectCentroids(assigned0
      .select(col("cell"), posexplode(col("v")))
      // decimal-sum mean, not avg(double): decimal addition is exact and
      // associative, so the centroid is independent of partition merge
      // order — float partial-sum order could flip near-tie cell
      // assignments between runs
      .groupBy(col("cell"), col("pos"))
      .agg((sum(col("col").cast("decimal(28,10)")) /
        count(lit(1))).cast("double").as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"),
        transform(col("pm"), x => x.getField("m").cast("float")).as("cv")))
  }

  /** (vec_id, v, norm) over the corpus — MEMOIZED (r17): the IVF tier
    * reads this frame four times per run (quantizer seeds, the Lloyd
    * assign, corpus cell assignment, query cell probes), and unmemoized
    * each read re-scanned the parquet and re-ran the O(dim) norm kernel
    * over every vector — the whole reason `sim_ivf_topk` sat at ~2-3×
    * its LSH sibling in the sf10 sweep (adjudicated via the stage dump:
    * two saturated full-width corpus passes, no skew, no window). Same
    * one-scan discipline as the dd_* feature frames. */
  private def embeddingFrame(s: SparkSession, dir: String): DataFrame =
    RunCaches.cachedFeature(s, s"emb_frame:$dir", RunCaches.srcVersion(s, dir, "embeddings.parquet")) {
      T(s, dir).embeddings.select(col("vec_id"), col("embedding").as("v"))
        .withColumn("norm", sqrt(dotDouble(col("v"), col("v"))))
    }

  /** Exact re-rank of cell-joined (corpus ⨝ query) candidates through the
    * bounded heap — shared by the in-memory query and the persisted-index
    * probe, so both produce identical output. */
  private def ivfRerank(corpusCells: DataFrame, queryCells: DataFrame): DataFrame = {
    val scored = corpusCells
      .join(broadcast(queryCells), Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos", dotDouble(col("qv"), col("v")) / (col("qn") * col("norm")))
      .select(col("qid"), col("cos").as("score"),
        col("vec_id").as("id"), lit(0L).as("pay"))
    rankTop5(scored)
      .select(col("qid"), col("rank"), col("id").as("nid"),
        round(col("score") * lit(1000000), 0).cast("long").as("cos_q6"))
      .orderBy(col("qid"), col("rank"))
  }

  val simIvfTopk = QueryDef(
    "sim_ivf_topk",
    (s, dir) => {
      val nCells = 16
      val nProbe = 4
      val e = embeddingFrame(s, dir)
      val centroids = trainCentroids(e, nCells)
      // corpus → nearest refined centroid; queries → nProbe nearest
      // cells. explode form for the same single-evaluation reason as
      // the Lloyd assign (the get+filter form ran the scoring kernel
      // twice per corpus row — r20 stage dump).
      val corpusCells = e
        .select(col("vec_id"), col("v"), col("norm"),
          explode(nearestCells(centroids, 1)(col("v"), col("norm"))).as("cell"))
      val queryCells = e.filter(col("vec_id") < lit(5L))
        .withColumn("cell",
          explode(nearestCells(centroids, nProbe)(col("v"), col("norm"))))
        .select(col("cell"), col("vec_id").as("qid"),
          col("v").as("qv"), col("norm").as("qn"))
      ivfRerank(corpusCells, queryCells)
    },
    oracle = None)

  /** Builds the PERSISTED form of the IVF index: trains the quantizer,
    * assigns every vector its cell via the kernel, and writes the corpus
    * parquet PARTITIONED BY cell — the stored layout where a probe's
    * nProbe cells are whole partitions and partition pruning skips the
    * rest of the corpus on disk. Returns the trained centroids (the
    * quantizer; in production stored alongside the index). */
  def writeIvfIndex(s: SparkSession, dir: String, indexPath: String,
      nCells: Int = 16): Array[(Long, Array[Float], Double)] = {
    val e = embeddingFrame(s, dir)
    val centroids = trainCentroids(e, nCells)
    // explode form — single kernel evaluation per row, same rows as the
    // old get+filter (see simIvfTopk)
    e.select(col("vec_id"), col("v"), col("norm"),
        explode(nearestCells(centroids, 1)(col("v"), col("norm"))).as("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(indexPath)
    centroids
  }

  /** Probes a persisted IVF index: computes each query's nProbe cells
    * from the stored quantizer, reads ONLY those cell partitions (the
    * `cell IN (…)` filter prunes at the parquet partition level — at
    * 100 TB the probe touches nProbe/nCells of the stored bytes), and
    * exact-re-ranks through the bounded heap. Output is identical to
    * `sim_ivf_topk`'s in-memory path for the same corpus + quantizer. */
  def probeIvfIndex(s: SparkSession, dir: String, indexPath: String,
      centroids: Array[(Long, Array[Float], Double)],
      nProbe: Int = 4): DataFrame = {
    val queryCells = embeddingFrame(s, dir)
      .filter(col("vec_id") < lit(5L))
      .withColumn("cell",
        explode(nearestCells(centroids, nProbe)(col("v"), col("norm"))))
      .select(col("cell"), col("vec_id").as("qid"),
        col("v").as("qv"), col("norm").as("qn"))
    val probeCells = queryCells.select(col("cell")).distinct()
      .collect().map(_.getLong(0)) // bounded: ≤ queries × nProbe values
    val corpusCells = s.read.parquet(indexPath)
      .filter(col("cell").isin(probeCells.map(x => x: Any): _*))
    ivfRerank(corpusCells, queryCells)
  }

  // --- incremental dedup against a persisted band index ---

  /** Bucket shards per band in the persisted MinHash band index. The
    * pruning axis is the BUCKET, not the band (an increment bands into
    * all 8 bands), and raw 64-bit buckets are far too many partition
    * directories — so buckets shard by `pmod(bucket, 32)` and the index
    * partitions by (band, bshard): 256 directories total, each a
    * prunable unit. A probe touches at most min(increment banded rows,
    * 8 × 32) of them — real pruning for the steady-state ingest case
    * (increment ≪ corpus); a large increment degrades gracefully to
    * reading the whole bands index, which is still the narrow
    * (band, bucket, keeper) triples, never the corpus bytes. The same
    * shard count partitions the keeper-tokens side table by
    * `pmod(doc_id, 32)`, pruned at probe time by the shards the
    * elected corpus keepers actually occupy.
    *
    * DEFAULT shard count only: the session conf
    * `spark.graft.minhash.indexShards` wins when set — 32×8 = 256
    * prunable units fit the test tiers, while a 100 TB corpus wants
    * thousands (pruning granularity AND per-partition size both scale
    * with it). The shard count is baked into the published version
    * directory's NAME, so an index built under one setting can never be
    * probed under another — a conf change simply versions a new index
    * and the old one ages out through the reap pass. */
  val minhashIndexShards = 32

  /** Shard count a published version path was built with, parsed from
    * its name. Matches ONLY the full `v<split>-<mtime>-s<N>` version
    * shape [[ensureVersionedIndex]] itself publishes — a custom index
    * location that merely happens to end in `-s<digits>` is the
    * caller's own layout, governed by their explicit argument. */
  private[graft] def indexShardsOf(indexPath: String): Option[Int] =
    "(^|/)v\\d+-\\d+-s(\\d{1,9})/*$".r
      .findFirstMatchIn(indexPath).map(_.group(2).toInt)

  /** Session shard count: `spark.graft.minhash.indexShards` (the
    * subsystem-wide setting under its historical name, for every
    * family), else [[minhashIndexShards]] — [[ensureVersionedIndex]]'s
    * single reader, so build, probe, version-name and any measurement
    * harness can never disagree within a session. */
  private[graft] def confShards(s: SparkSession): Int = {
    val n = s.conf.get("spark.graft.minhash.indexShards",
      minhashIndexShards.toString).toInt
    // upper bound = what indexShardsOf's 9-digit parse can read back: a
    // 10-digit count would publish a version name the probe CANNOT
    // parse, silently falling back to the caller's default modulus and
    // mis-pruning — refuse here, where the layout is named
    require(n > 0 && n <= 999999999,
      s"spark.graft.minhash.indexShards must be in [1, 999999999], got $n")
    n
  }

  /** The shard modulus a probe must prune with. The version path's -sN
    * suffix is AUTHORITATIVE when present: pruning with any other
    * modulus than the layout was written with silently misses
    * duplicates, so the layout's own record beats both the argument and
    * any conf re-read (which could race a conf change between ensure
    * and probe). The argument governs only pathless custom index
    * locations, where the caller owns both halves — an EXPLICIT
    * argument that disagrees with a version-shaped path is a caller
    * error and fails loudly rather than silently mis-pruning (the
    * default-valued argument carries no intent and defers). */
  private[operators] def effShardsOf(indexPath: String, passed: Int, what: String): Int =
    indexShardsOf(indexPath) match {
      case Some(fromPath) =>
        require(passed == minhashIndexShards || passed == fromPath,
          s"$what: explicit shards=$passed disagrees with the index " +
            s"path's own -s$fromPath layout suffix ($indexPath) — " +
            "pruning under the wrong modulus would silently miss duplicates")
        fromPath
      case None => passed
    }

  /** Combined (band, bshard) partition key as one long — the single
    * expression both the probe's bounded collect and the index-read
    * filter use, so the pruning predicate can never drift from the
    * layout. Partition-column-only, hence pushed as a PartitionFilter. */
  private[operators] def mhPartKey(band: org.apache.spark.sql.Column,
      bshard: org.apache.spark.sql.Column,
      shards: Int): org.apache.spark.sql.Column =
    band.cast("long") * lit(shards.toLong) + bshard.cast("long")

  /** One incremental dedup index family — MinHash, SimHash, image
    * pHash or embedding LSH — defined once: [[ensureIndex]],
    * [[writeIndex]] and [[probeIndex]] (and the feature-frame cores
    * [[writeIncrIndex]]/[[probeIncrIndex]] under them) serve every
    * family from ONE implementation, so a pruning, merge or versioning
    * fix can never land in one family and drift from the others.
    *
    * `name` — the family's name (TimeIncr's `family=`). `query` — its
    * `_incr` catalog query, also the stem of its feature memo keys.
    * `what` — its label in job descriptions, errors and candidate memo
    * keys. `table`/`splitIdCol` — the catalog table whose max id
    * anchors the split and whose mtime versions the index and the
    * feature memos. `corpus` — (session, dir) → the rows the kernel
    * reads; `featOf` — the feature kernel over them. `prefix` — the
    * index base-directory prefix: a family tag plus the kernel
    * fingerprint, so a kernel change moves the base. `counted` — the
    * corpus rows a measurement reports as indexed (phash hashes only
    * image rows with a payload).
    *
    * `idCol` — the corpus id (doc_id/media_id/vec_id; ids are
    * append-only, which is what makes least-merge the true bucket
    * minimum). `featSubdir`/`featShardCol` — the keeper side table's
    * layout; the published layout parts are `bands` and `featSubdir`.
    * `bandedOf` — feature frame → (id, band, bucket).
    * `sideOf` — feature frame → the keeper side projection (id +
    * verify features), applied identically at build and probe time so
    * both paths drop degenerate rows at the SAME stage. `kRename` — a
    * side frame → keeper-join names (keeper, k_*). `verify` —
    * (candidates, increment feature frame, keeper side) → result.
    * `bandsDdl`/`sideDdl` — the DATA schemas of the two persisted parts
    * (partition column included), what an injected part reader must
    * expose when it substitutes an empty frame for a legitimately-empty
    * part ([[IngestIncr]]'s marker protocol; unused under the default
    * parquet reader). */
  private[graft] final case class IncrFamily(
      name: String,
      query: String,
      what: String,
      table: String,
      splitIdCol: String,
      corpus: (SparkSession, String) => DataFrame,
      featOf: DataFrame => DataFrame,
      prefix: String,
      idCol: String,
      featSubdir: String,
      featShardCol: String,
      bandedOf: DataFrame => DataFrame,
      sideOf: DataFrame => DataFrame,
      kRename: DataFrame => DataFrame,
      verify: (DataFrame, DataFrame, DataFrame) => DataFrame,
      // sideDdl has NO default (second r19 review): the probe builds
      // the empty-candShards frame from it, so a family without one is
      // wrong by construction — a compile error beats the mid-probe
      // require the first fix used
      sideDdl: String,
      counted: DataFrame => DataFrame,
      bandsDdl: String = "band INT, bucket BIGINT, keeper BIGINT, bshard BIGINT")

  /** Ingest-time half shared by every family: persists the corpus's
    * (band, bucket, keeper) frame partitioned by (band, bshard), plus
    * the keeper side table (only bucket keepers can be elected by a
    * probe — verify needs no other corpus features). The corpus is
    * scanned ONCE here, at ingest; every later increment dedups against
    * these files without touching the corpus again — the append-only
    * ingest pattern of the reference's identity stream
    * (merkle.ts:116-125), applied to the dedup family the way
    * [[writeIvfIndex]] applies it to ANN cells. */
  private[operators] def writeIncrIndex(s: SparkSession, indexPath: String,
      shards: Int, fam: IncrFamily, feat: DataFrame): Unit = {
    // the SAME path-suffix resolution the probe half runs: a custom
    // indexPath that matches the version shape carries an authoritative
    // -sN, and writing under any other modulus would make the probe's
    // pruning silently miss duplicates (the write half used to apply
    // the argument raw — the one place the layout rule didn't reach)
    val effShards = effShardsOf(indexPath, shards, fam.what)
    // a 0-row partitioned parquet write produces NO data files and the
    // probe's later read fails with an opaque schema-inference error —
    // name the cause instead. The guard must test the BANDED frame, not
    // the feature frame: a slice can hold rows yet band to nothing
    // (minhash emits no bands for a doc with no >3-char tokens), and
    // only "zero bands" produces the fileless write. Cheap: limit-1.
    val bands = fam.bandedOf(feat)
    require(!bands.isEmpty,
      s"${fam.what}: corpus slice below the split produced no index " +
        "bands (the slice is empty, or every row in it is " +
        "band-degenerate) — an incremental index needs at least one " +
        "banded corpus row")
    bands.groupBy(col("band"), col("bucket"))
      .agg(min(col(fam.idCol)).as("keeper"))
      .withColumn("bshard", pmod(col("bucket"), lit(effShards.toLong)))
      .write.mode("overwrite").partitionBy("band", "bshard")
      .parquet(s"$indexPath/bands")
    // keeper ids come from the JUST-WRITTEN bands files, not a second
    // evaluation of the keepers frame — the banding + election shuffle
    // (the dominant ingest cost) runs exactly once per index build
    val storedKeepers = s.read.parquet(s"$indexPath/bands")
      .select(col("keeper").as(fam.idCol)).distinct()
    fam.sideOf(feat)
      .join(storedKeepers, Seq(fam.idCol))
      .withColumn(fam.featShardCol, pmod(col(fam.idCol), lit(effShards.toLong)))
      .write.mode("overwrite").partitionBy(fam.featShardCol)
      .parquet(s"$indexPath/${fam.featSubdir}")
  }

  /** Query-time half shared by every family: dedups the increment
    * (id >= split) against the persisted index WITHOUT re-scanning the
    * corpus. The bands read is pruned to the (band, bshard) partitions
    * the increment's own banding touches (bounded collect, ≤ nBands ×
    * shards values no matter the corpus size); per-bucket keepers merge
    * as `least(index keeper, increment min)` — with append-only ids
    * that IS the bucket minimum over corpus ∪ increment, so the output
    * equals the full batch recompute restricted to the increment, a
    * property each family's equality spec asserts literally. Verify
    * features come from the increment frame plus the index's keeper
    * side table, the latter pruned to the shards the elected CORPUS
    * keepers occupy (a second bounded collect — candidates are ≤ one
    * per increment row). Both prunings are real when the increment is
    * small next to the corpus — the steady-state ingest case — and
    * degrade to full index reads (never corpus reads) for bulk
    * increments like the test's 20% slice. */
  private[operators] def probeIncrIndex(s: SparkSession, indexPath: String,
      split: Long, shards: Int, fam: IncrFamily, feat: DataFrame,
      srcVer: Long = 0L,
      readPart: (String, String) => DataFrame = null,
      extra: Option[(DataFrame, DataFrame)] = None,
      memoSuffix: String = ""): DataFrame = {
    // `readPart(path, ddl)` — injectable part reader (r19): the default
    // is a plain parquet read; IngestIncr injects its empty-marker-aware
    // reader so a legitimately-empty part substitutes an empty frame of
    // the part's declared schema instead of dying on schema inference.
    // `extra` — an OPTIONAL second election source next to the persisted
    // index: (bands frame (band, bucket, keeper), side feature frame in
    // this family's feature shape). The LIVE admission stream passes its
    // accumulated stream-state here, so the three-way election
    // least(corpus, stream state, this increment) runs through this ONE
    // shared body — the same no-drift rule as the batch/probe halves.
    // `memoSuffix` discriminates the candidate memo key for callers that
    // probe the same index repeatedly with DIFFERENT feature frames
    // (per-micro-batch probes): same suffix + newer srcVer supersedes,
    // so at most one candidate frame per caller stream stays live.
    val rp: (String, String) => DataFrame =
      if (readPart == null) (p, _) => s.read.parquet(p) else readPart
    def emptyOf(ddl: String): DataFrame = emptyFromDdl(s, ddl)
    val effShards = effShardsOf(indexPath, shards, fam.what)
    val banded = fam.bandedOf(feat)
    val incrKeepers = banded.groupBy(col("band"), col("bucket"))
      .agg(min(col(fam.idCol)).as("ikeeper"))
    val touched = IngestIncr.labeledJob(s, s"${fam.what}: band prune")(banded
      .select(mhPartKey(col("band"),
        pmod(col("bucket"), lit(effShards.toLong)), effShards).as("pk"))
      .distinct().collect()).map(_.getLong(0)) // bounded: ≤ nBands × shards
    // an increment that bands to NOTHING (every row band-degenerate —
    // reachable per micro-batch on the streaming path) must not build
    // an empty `isin()` filter; the index contributes nothing anyway
    val idx = (if (touched.isEmpty) emptyOf(fam.bandsDdl)
      else rp(s"$indexPath/bands", fam.bandsDdl)
        .filter(mhPartKey(col("band"), col("bshard"), effShards)
          .isin(touched.map(x => x: Any): _*)))
      .select(col("band").cast("int").as("band"), col("bucket"), col("keeper"))
    // least() skips nulls: unseen-by-corpus buckets fall to the
    // increment's own minimum, known buckets to the true merged min —
    // and with `extra` state, to the three-way minimum (stream ids sit
    // between corpus ids and this increment's, so least() IS the bucket
    // minimum over corpus ∪ state ∪ increment under append-only ids)
    val mergedBase = incrKeepers.join(idx, Seq("band", "bucket"), "left")
    val merged = extra match {
      case None =>
        mergedBase.select(col("band"), col("bucket"),
          least(col("keeper"), col("ikeeper")).as("keeper"))
      case Some((xBands, _)) =>
        mergedBase.join(
          xBands.select(col("band").cast("int").as("band"), col("bucket"),
            col("keeper").as("xkeeper")),
          Seq("band", "bucket"), "left")
          .select(col("band"), col("bucket"),
            least(col("keeper"), col("xkeeper"), col("ikeeper")).as("keeper"))
    }
    // memoized: the candidate frame feeds the bounded candShards
    // collect and the returned verify plan. The version is the corpus
    // version plus the index's bands mtime, because a custom fixed
    // index path can be rebuilt in place. A sum, not an xor: the memo's
    // publish is ordered, and an xor of two timestamps is not monotone.
    // Saturating, so a nanoTime-fallback component cannot wrap it.
    val idxVer = RunCaches.srcVersion(s, indexPath, "bands")
    val mixedVer =
      try Math.addExact(srcVer, idxVer)
      catch { case _: ArithmeticException => Long.MaxValue }
    // a regeneration or tier change mints a new key, so older keys
    // under this index's parent dir (superseded versions under the
    // managed base) are evicted; other indexes of the family are kept.
    // The prefix comes from the raw indexPath string, as the keys do:
    // hadoop Path normalizes it and would match no key.
    val candKey = s"incrcand:${fam.what}:$indexPath:$split$memoSuffix"
    val idxTrim = indexPath.stripSuffix("/")
    val idxCut = idxTrim.lastIndexOf('/')
    RunCaches.evictFeaturePrefix(
      if (idxCut >= 0) s"incrcand:${fam.what}:${idxTrim.substring(0, idxCut + 1)}"
      else s"incrcand:${fam.what}:",
      spare = _ == candKey)
    val cand = RunCaches.cachedFeature(s, candKey, mixedVer) {
      banded.join(merged, Seq("band", "bucket"))
        .filter(col("keeper") < col(fam.idCol))
        .groupBy(col(fam.idCol)).agg(min(col("keeper")).as("keeper"))
    }
    // prune the keeper side-table read to the shards the elected CORPUS
    // keepers live in (increment keepers' features come from `feat`,
    // not the index) — without this the verify join would re-read
    // features for ~every corpus row, and the probe would be
    // corpus-scale I/O after all
    val candShards = IngestIncr.labeledJob(s, s"${fam.what}: cand shard prune")(
      cand.filter(col("keeper") < lit(split))
        .select(pmod(col("keeper"), lit(effShards.toLong)).as("cs"))
        .distinct().collect()).map(_.getLong(0)) // bounded: ≤ shards
    // sideDdl is a hard family contract (review r19): the old
    // shard-col-only fallback built a ZERO-column frame after the drop
    // below whenever candShards was empty, and kRename then failed on
    // it — silently wrong for exactly the families it claimed to
    // cover. The case class now has no default, so a family without a
    // ddl is a compile error, not a mid-probe failure.
    val sideDdl = fam.sideDdl
    val idxSide = (if (candShards.isEmpty) emptyOf(sideDdl)
      else rp(s"$indexPath/${fam.featSubdir}", sideDdl)
        .filter(col(fam.featShardCol).isin(candShards.map(x => x: Any): _*)))
      .drop(fam.featShardCol)
    // stream-state keepers (split ≤ keeper < this increment) verify from
    // the extra side frame — state-sized, never pruned (it is the
    // stream's own accumulated survivors, already in memory)
    val kSide0 = fam.kRename(fam.sideOf(feat))
      .unionByName(fam.kRename(idxSide))
    val kSide = extra.fold(kSide0) { case (_, xSide) =>
      kSide0.unionByName(fam.kRename(fam.sideOf(xSide)))
    }
    fam.verify(cand, feat, kSide)
  }

  /** MinHash family. The size(toks) > 0 guard lives in `sideOf`,
    * applied identically at build and probe, so probe ≡ batch equality
    * never depends on the Jaccard threshold happening to discard
    * empty-k_toks pairs. */
  private[graft] lazy val minhashFamily = IncrFamily(
    name = "minhash", query = "dd_minhash_incr", what = "probeMinhashIndex",
    table = "documents", splitIdCol = "doc_id",
    corpus = (s, dir) => T(s, dir).documents, featOf = minhashFeatOf,
    // "mh2" + the kernel fingerprint: the version identity (split, src
    // mtime, shards) does not cover the banding kernel, and a
    // pre-switch index would version-match a post-switch probe and
    // serve bands its banding can never hit (silent empty dedup)
    prefix = s"mh2-$minhashKernelFp",
    idCol = "doc_id", featSubdir = "toks", featShardCol = "tshard",
    sideDdl = "doc_id BIGINT, toks ARRAY<STRING>, tshard BIGINT",
    bandedOf = bandedOf,
    sideOf = f => f.select(col("doc_id"), col("toks"))
      .filter(size(col("toks")) > lit(0)),
    kRename = d => d.select(col("doc_id").as("keeper"), col("toks").as("k_toks")),
    verify = (cand, feat, kSide) =>
      jaccardVerify(cand,
        feat.select(col("doc_id"), col("toks"))
          .filter(size(col("toks")) > lit(0)), kSide),
    counted = identity)

  /** Every incremental index family, by [[IncrFamily.name]]. */
  private[graft] def incrFamilies: Seq[IncrFamily] = Seq(minhashFamily,
    simhashFamily, Multimodal.phashFamily, embeddingFamily)

  /** Ingest-time half over `dir`'s corpus slice below `split`: a direct
    * filtered scan (the id filter pushed to parquet), NOT the
    * full-corpus cache — ingest reads the corpus slice once, and the
    * memo serves the build's two write branches. */
  def writeIndex(s: SparkSession, fam: IncrFamily, dir: String,
      indexPath: String, split: Long,
      shards: Int = minhashIndexShards): Unit =
    writeIncrIndex(s, indexPath, shards, fam,
      RunCaches.cachedFeature(s, s"${fam.query}:$dir:corpus$split",
          RunCaches.srcVersion(s, dir, s"${fam.table}.parquet")) {
        fam.featOf(fam.corpus(s, dir).filter(col(fam.idCol) < lit(split)))
      })

  /** Query-time half: dedups `dir`'s increment (id >= split) against
    * the persisted index through [[probeIncrIndex]]. The increment is
    * an increment-only scan (the id filter pushed into the read), so
    * the corpus proper is never touched — only the increment rows and
    * the index files; memoized, since the frame feeds banding, the
    * verify side and the candidate-shard collect. The output equals
    * the family's full batch dedup restricted to the increment, which
    * each family's equality spec asserts literally. */
  def probeIndex(s: SparkSession, fam: IncrFamily, dir: String,
      indexPath: String, split: Long,
      shards: Int = minhashIndexShards): DataFrame = {
    val srcVer = RunCaches.srcVersion(s, dir, s"${fam.table}.parquet")
    probeIncrIndex(s, indexPath, split, shards, fam,
      RunCaches.cachedFeature(s, s"${fam.query}:$dir:incr$split", srcVer) {
        fam.featOf(fam.corpus(s, dir).filter(col(fam.idCol) >= lit(split)))
      }, srcVer)
  }

  /** Root under which versioned index directories are published.
    * Defaults to the local tmpdir; a production deploy points it at a
    * shared `hdfs:`/`s3a:` prefix — every filesystem touch below goes
    * through the Hadoop [[org.apache.hadoop.fs.FileSystem]] resolved
    * from this path's scheme, never `java.io.File` (which on a remote
    * scheme silently reports nothing-exists and would rebuild + leak an
    * index per query — the bug class the round-6 Bloom-fingerprint fix
    * caught). JVM-wide DEFAULT only: the per-session Spark conf
    * `spark.graft.minhash.indexBase` wins when set, so two sessions in
    * one JVM (a driver session next to a test session) can point at
    * different bases without racing on a global. */
  private[graft] val minhashIndexBase: String = sys.props("java.io.tmpdir")

  /** Grace age for reaping: version/staging directories younger than
    * this survive a reap pass, so a concurrent JVM that resolved an
    * older (split, mtime) version moments ago — or is mid-build in a
    * `.build-*` staging dir — doesn't have files deleted out from under
    * its scan (ADVICE r8). Older-than-grace directories are either dead
    * versions of a regenerated source tier or staging leaked by a
    * crashed build; both are reclaimed. JVM-wide DEFAULT; the session
    * conf `spark.graft.minhash.reapGraceMs` wins when set. SAFE LOWER
    * BOUND: at least the largest expected single-object copy time on
    * the index store — quiet-gating ages by newest visible file, and a
    * live copy stalled on one huge object must never read as quiet. On
    * non-local schemes the effective window is floored at 5 minutes
    * (see [[ensureVersionedIndex]]); local/test runs keep the raw conf. */
  private[graft] val minhashReapGraceMs: Long = 15 * 60 * 1000L

  /** One lock PER INDEX BASE directory, not one global: the publish
    * loop deliberately polls (up to grace + 30 s) while holding its
    * lock, and a single shared lock would convoy every other family's
    * — and every other corpus's — ensure behind one slow cross-JVM
    * marker wait. Serializing builders per base is the whole invariant;
    * distinct bases cannot race each other's publishes. The map is
    * bounded by the number of distinct (family, corpus) bases a JVM
    * ever touches. */
  private val idxLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def idxLockFor(base: String): Object =
    idxLocks.computeIfAbsent(base, _ => new Object)

  /** Corpus identity: max `idCol` of `table`. A single-column bounded
    * agg, not the feature cache — warming the full-corpus frame here
    * would undo the probe's increment-only read. */
  private def tableMaxId(s: SparkSession, dir: String, table: String,
      idCol: String): Long = {
    val maxRow = T(s, dir).byName(table).agg(max(col(idCol))).head()
    require(!maxRow.isNullAt(0),
      s"index build: $table corpus at $dir is empty — nothing to index")
    maxRow.getLong(0)
  }

  /** The versioned-publish machinery shared by every incremental index
    * family ([[ensureIndex]]) and the composed ingest index
    * ([[IngestIncr.ensurePipeIngestIndex]]): builds `dir`'s corpus-slice
    * index once and returns (versionPath, split). Split = the last 20% of the
    * id range is "the increment": ids above it play the newly-ingested
    * docs, everything below is the already-indexed corpus.
    *
    * The index lives in a VERSIONED directory named by (split,
    * source mtime, shards) — a driver-regenerated source tier changes
    * the name, invalidating stale indexes the way Bench.ensureSf1's
    * mtime check does. `build(stagingPath, split, shards)` stages into
    * a fresh temp dir; publish is directory rename + a `_PUBLISHED`
    * marker: on rename-atomic filesystems (local, HDFS) a reader can
    * never see a half-written index, and the marker additionally covers
    * stores WITHOUT atomic rename — S3's "rename" is a non-atomic
    * copy+delete, so there a directory can exist mid-copy; readers here
    * require the marker, which is written strictly after the data is
    * fully in place, making the publish scale-safe on object stores
    * too. When two JVMs race (e.g. a Verify run next to a test suite)
    * the rename loser discards its staging and adopts the winner's
    * byte-equivalent index; a leftover marker-less version directory (a
    * publish crashed mid-copy) is reclaimed once quiet and republished.
    * The base directory name includes a hash of the RAW corpus path
    * next to the sanitized form, so two distinct corpora whose
    * sanitized names collide (`/a/b` vs `/a_b`) can never reap or serve
    * each other's indexes (ADVICE r8).
    *
    * `famPrefix` names the base directory (`graft-<famPrefix>-idx-…`);
    * `parts` are the layout subdirs that must exist before the marker
    * may bless a version; `table`/`idCol` name the corpus whose max id
    * sets the split and whose mtime versions the index. The session
    * confs `spark.graft.minhash.indexBase`/`.reapGraceMs`/`.indexShards`
    * (the subsystem-wide settings, under their historical name) apply
    * to every family, falling back to the JVM-wide defaults. */
  private[graft] def ensureVersionedIndex(
      s: SparkSession, dir: String, famPrefix: String,
      parts: Seq[String], build: (String, Long, Int) => Unit,
      table: String, idCol: String): (String, Long) =
    {
      import org.apache.hadoop.fs.Path
      val maxId = tableMaxId(s, dir, table, idCol)
      val split = maxId - maxId / 5
      val hconf = s.sparkContext.hadoopConfiguration
      // Source-version token, the second component of the version name
      // (the split — max id — is the first). Filesystem store: the
      // source's max mtime, so a driver-regenerated tier changes the
      // name. A store with NO mtime surface (the `jdbc:` table-set
      // locator): an EXPLICIT token — the corpus row count, one pushed
      // count(*) per ensure. (split, count) together pin every identity
      // change an append-only ingest corpus makes: appends move both,
      // deletes move the count; a same-cardinality in-place mutation is
      // outside the contract, the same granularity limit a
      // timestamp-coalescing filesystem has. The staleness contract
      // either way: a token mismatch mints a DIFFERENT version
      // directory, so a stale index can never version-match a fresher
      // corpus' probe and silently serve bands the corpus no longer
      // implies — and the token is monotone under append-only growth,
      // which the reap pass's current-or-newer ordering relies on.
      val srcMtime: Long =
        if (dir.startsWith("jdbc:"))
          T(s, dir).byName(table).count()
        else {
          val src = new Path(s"$dir/$table.parquet")
          val srcFs = src.getFileSystem(hconf)
          val srcSt = srcFs.getFileStatus(src) // loud FileNotFound on a bad dir
          if (srcSt.isDirectory)
            (srcSt.getModificationTime +:
              srcFs.listStatus(src).map(_.getModificationTime).toSeq).max
          else srcSt.getModificationTime
        }
      val dirHash = // collision-proof component alongside the sanitized name
        f"${scala.util.hashing.MurmurHash3.stringHash(dir) & 0xffffffffL}%08x"
      // session conf wins over the JVM-wide defaults: "where do the
      // 100 TB indexes live" is deployment config, and two sessions in
      // one JVM may legitimately differ
      val idxBase = s.conf.get("spark.graft.minhash.indexBase", minhashIndexBase)
      val confGraceMs = s.conf.get("spark.graft.minhash.reapGraceMs",
        minhashReapGraceMs.toString).toLong
      val shards = confShards(s)
      val base = new Path(idxBase,
        s"graft-$famPrefix-idx-" + dir.replaceAll("[^A-Za-z0-9.]", "_") + "-" + dirHash)
      val fs = base.getFileSystem(hconf)
      // Quiet-gating judges liveness by newest-visible-file age, which on
      // an OBJECT STORE can under-read a live cross-JVM copy: one huge
      // object uploading for longer than the grace window leaves the dir
      // looking quiet, and reaping it then interleaves two publishers'
      // part-files — the corruption the gate exists to prevent. So on
      // non-rename-atomic-posture schemes (anything but file:) the
      // effective window is floored at 5 minutes regardless of how low a
      // deployment sets spark.graft.minhash.reapGraceMs; the conf's safe
      // lower bound is the largest expected single-object copy time.
      // Local runs (tests) keep the raw conf — rename there is atomic and
      // the husk/racer specs rely on sub-second windows.
      val graceMs =
        if (fs.getScheme == "file") confGraceMs
        else math.max(confGraceMs, 5 * 60 * 1000L)
      // shard count is part of the version identity: a layout built
      // under one shard setting must never serve a probe pruning under
      // another (the pmod assignments would disagree silently). The
      // tier prefix is shared with the reap pass's sibling-spare check
      // below so the two can never drift apart.
      val tierPrefix = s"v$split-$srcMtime-"
      val ver = new Path(base, tierPrefix + s"s$shards")
      val marker = new Path(ver, "_PUBLISHED")
      // fast path outside the lock (published is the steady state);
      // re-checked under the base's lock before building
      if (!fs.exists(marker)) idxLockFor(base.toString).synchronized {
        if (!fs.exists(marker)) {
        fs.mkdirs(base)
        // var: the photo-finish unwind below may relocate the build to a
        // fresh staging name when the original cannot be renamed back
        var staging = new Path(base,
          ".build-" + java.util.UUID.randomUUID().toString)
        build(staging.toString, split, shards)
        def bless(): Unit = {
          // the marker is the read gate — never bless a layout the probe
          // cannot serve (belt over the nesting unwind in tryPublish)
          require(parts.forall(p => fs.exists(new Path(ver, p))),
            s"$famPrefix index publish incomplete at $ver: " +
              s"${parts.mkString("/")} missing")
          fs.create(marker, true).close()
        }
        // Hadoop rename is NOT rename-if-absent: given an EXISTING
        // destination directory, HDFS moves the source INTO it and
        // RawLocalFileSystem's copy fallback nests it the same way —
        // both report success. An unguarded rename against a ver created
        // by a racing publisher (or a crashed publish's marker-less
        // husk) would therefore "succeed" by leaking this build nested
        // at ver/.build-*, and a husk could then be marker-blessed with
        // incomplete top-level data. So: attempt the rename only when
        // ver is absent, and detect the photo-finish case (ver appeared
        // inside the check→rename window, nesting us) by looking for our
        // own staging name under ver — unwound LOSSLESSLY back to
        // staging, so a later reclaim can still publish this build.
        def tryPublish(): Boolean =
          !fs.exists(ver) && fs.rename(staging, ver) && {
            val nested = new Path(ver, staging.getName)
            !fs.exists(nested) || {
              // unwind LOSSLESSLY: `nested` IS this JVM's whole build. A
              // transiently failed unwind rename must not fall through to
              // delete (that destroys a corpus-scale build and leaves the
              // reclaim loop retrying against a staging dir that no longer
              // exists) — retry to a FRESH .build-* name, and if the build
              // is truly unrecoverable fail NOW with the race diagnosis.
              val unwound = fs.rename(nested, staging) || {
                val fresh = new Path(base,
                  ".build-" + java.util.UUID.randomUUID().toString)
                fs.rename(nested, fresh) && { staging = fresh; true }
              }
              require(unwound,
                s"$famPrefix index publish: build nested under $ver by a " +
                  "racing publisher and could not be unwound to staging — " +
                  "lost to a nesting race")
              false
            }
          }
        // Age of the newest FILE under p (recursively), or the dir's own
        // mtime if greater; -1 ⇒ p is gone, 0 ⇒ nothing datable. File
        // mtimes are the only reliable ager: object-store pseudo-dirs
        // report mtime 0, and a local/HDFS dir's mtime tracks only its
        // DIRECT children — a deep layout (bands/band=N/bshard=M/part-*)
        // keeps gaining young files levels below a stale top. Only rare
        // contended/reap paths pay the recursive listing.
        def newestIn(p: Path): Long =
          try {
            var m = fs.getFileStatus(p).getModificationTime
            val it = fs.listFiles(p, true)
            while (it.hasNext) m = math.max(m, it.next().getModificationTime)
            m
          } catch { case _: java.io.FileNotFoundException => -1L }
        // Publish-or-adopt loop. Husk-vs-LIVE discrimination: on a
        // non-atomic store (S3) a racing publisher's "rename" is a long
        // client-side copy — ver can sit marker-less for MINUTES while
        // very much alive, and deleting it then would interleave two
        // publishers' distinct part-files in one directory, corrupt and
        // marker-blessed by whichever finishes last. A marker-less ver
        // is a reclaimable husk only once it has gone QUIET (newest file
        // older than the grace window; a file-less shell must stay empty
        // for 5 s). Until then we poll for the racer's marker, bounded
        // by grace + 30 s — a fresh husk ages into quiet before that
        // deadline, so the timeout only fires on clock skew (future
        // mtimes) or a pathologically slow live copy, and then we fail
        // LOUDLY rather than delete data we cannot prove dead. On
        // atomic-rename stores the racer's rename→marker window is
        // milliseconds, so the poll exits almost immediately.
        //
        // INVARIANT: this polls while holding this BASE's lock
        // ([[idxLockFor]]) — correct, not a hazard to "fix". The lock
        // is per-JVM, per-base, and serializes only this JVM's builders
        // of THIS index; the publisher being waited on is a DIFFERENT
        // JVM (a Verify run next to a test suite), which does not
        // contend on this lock, and other families/corpora hold other
        // locks. Releasing it here would let a second local builder
        // start a redundant full build behind the wait.
        val deadline = System.currentTimeMillis() + graceMs + 30000L
        var emptySince = 0L
        var reclaims = 0
        var done = false
        while (!done) {
          if (tryPublish()) { bless(); done = true }
          else if (fs.exists(marker)) { fs.delete(staging, true); done = true }
          else {
            val now = System.currentTimeMillis()
            val quiet = newestIn(ver) match {
              case -1L => emptySince = 0L; true // ver gone — retry publish
              case 0L =>
                if (emptySince == 0L) { emptySince = now; false }
                else now - emptySince > 5000L
              case m => emptySince = 0L; now - m > graceMs
            }
            if (quiet) {
              reclaims += 1
              require(reclaims <= 3,
                s"$famPrefix index publish failed after ${reclaims - 1} reclaim " +
                  s"attempts: rename into $ver keeps failing or the dir " +
                  "keeps reappearing marker-less (staging " +
                  s"${if (fs.exists(staging)) "intact" else "lost to a nesting race"})")
              fs.delete(ver, true) // quiet husk — reclaim, loop republishes
              Thread.sleep(500L) // let a transient rename failure clear
            } else {
              require(now < deadline,
                s"$famPrefix index publish timed out after ${graceMs + 30000L} ms " +
                  s"waiting on marker-less $ver (a publisher may be live, or " +
                  "the store reports future mtimes) — retry, raise " +
                  "spark.graft.minhash.reapGraceMs, or remove the dir manually")
              Thread.sleep(500L)
            }
          }
        }
        // stale versions (older source tiers) and staging leaked by
        // crashed builds are dead — reap them so the base doesn't
        // accumulate one full index copy per regeneration/crash.
        // Age-gated on the same newest-file metric as the husk loop
        // (never on the dir's own depth-1 view alone): young content may
        // still be scanned (or written) by a concurrent JVM, and an age
        // of 0/unknown is never reaped.
        val now = System.currentTimeMillis()
        fs.listStatus(base)
          .filter { st =>
            val n = st.getPath.getName
            st.isDirectory && (n.startsWith("v") || n.startsWith(".build-"))
          }
          .filter { st =>
            // a PUBLISHED shard layout of the CURRENT tier — or of a
            // NEWER one — is potentially live and never reaped: another
            // session with a different indexShards conf probes its own
            // current-tier sibling, and a builder holding a STALE
            // srcMtime whose corpus-scale build outlasted the grace
            // window would otherwise delete the newer tier's live index
            // out from under the sessions probing it (a published
            // version goes mtime-quiet the moment it lands — reads
            // never touch it, so age proves nothing for published
            // dirs). The tier ordering comes from the version name's
            // own mtime component. Marker-less siblings of ANY tier are
            // crashed publishes and age out like any husk (else each
            // abandoned shard setting would pin a corpus-scale copy).
            val publishedCurrentOrNewer = {
              val n = st.getPath.getName
              fs.exists(new Path(st.getPath, "_PUBLISHED")) && (
                n.startsWith(tierPrefix) ||
                  "^v\\d+-(\\d+)-s\\d{1,9}$".r.findFirstMatchIn(n)
                    // Try-guarded like Bench's record-listing sort: an
                    // mtime component past Long range (a hostile or
                    // corrupted sibling name) must read as
                    // current-or-newer — never reaped, never a
                    // NumberFormatException aborting the caller's own
                    // build/probe (ADVICE r13)
                    .exists(m => scala.util.Try(m.group(1).toLong)
                      .map(_ >= srcMtime).getOrElse(true)))
            }
            // LIST-cost short-circuit: newestIn is a full recursive
            // listing per sibling, a large object-store LIST bill inside
            // the base's lock on every rebuild. A dir young at depth 1 can only
            // get YOUNGER with children, so only depth-1-old candidates
            // (and mtime-0 pseudo-dirs, age unknown) pay the recursion.
            !publishedCurrentOrNewer &&
              now - st.getModificationTime > graceMs && {
                val eff = newestIn(st.getPath)
                eff > 0L && now - eff > graceMs
              }
          }
          .foreach(st => fs.delete(st.getPath, true))
      } }
      (ver.toString, split)
    }

  /** [[ensureVersionedIndex]] over a family: builds/adopts the (bands,
    * `featSubdir`) layout for `dir`'s corpus slice and returns
    * (versionPath, split). */
  def ensureIndex(s: SparkSession, fam: IncrFamily, dir: String): (String, Long) =
    ensureVersionedIndex(s, dir, fam.prefix, Seq("bands", fam.featSubdir),
      (staging, split, shards) =>
        writeIndex(s, fam, dir, staging, split, shards),
      fam.table, fam.splitIdCol)

  /** A family's `_incr` catalog query: ensure the index, then probe the
    * increment against it. */
  private[graft] def incrQuery(fam: IncrFamily,
      oracle: Option[String]): QueryDef =
    QueryDef(fam.query,
      (s, dir) => {
        val (idx, split) = ensureIndex(s, fam, dir)
        // no shards argument: the probe reads the layout's shard count
        // from the returned version path's -sN suffix, so the pairing is
        // structural (immune to a conf change between ensure and probe)
        probeIndex(s, fam, dir, idx, split)
      },
      oracle)

  /** dd_minhash_incr: INCREMENTAL near-dup dedup — the missing 100 TB
    * ingest pattern. Every other dedup query re-scans the whole corpus;
    * a production ingest pipeline dedups each new increment against a
    * PERSISTED index of what it already holds. Here the index covers
    * doc_id < split (built once, reused across runs) and the query
    * dedups the remaining ids against it; output = [[ddMinhash]] over
    * the full corpus restricted to the increment (exact equality,
    * spec-asserted); probe-time reads are the increment slice (doc_id
    * filter pushed to parquet) plus the pruned index partitions — never
    * the corpus proper. ORACLE-EXACT: the md5-window banding is
    * SQL-expressible and the split is `max id − max id / 5`, so DuckDB
    * recomputes the FULL election from the same text and restricts it
    * to the increment — the incremental machinery is checked against an
    * independent engine, on top of the probe≡batch equality spec and
    * the PartitionFilters plan lock. */
  val ddMinhashIncr = incrQuery(minhashFamily,
    oracle = Some(s"""
      WITH sp AS (
        SELECT MAX(doc_id) - MAX(doc_id) // 5 AS split FROM documents),
      $mhOracleCtes
      SELECT doc_id, keeper, jaccard_pct FROM ve
      WHERE doc_id >= (SELECT split FROM sp)
      ORDER BY doc_id"""))

  /** SimHash family: the keeper side table holds (doc_id, simhash) for
    * exactly the bucket keepers — the hamming verify needs no other
    * corpus fingerprints. */
  private[graft] lazy val simhashFamily = IncrFamily(
    name = "simhash", query = "dd_simhash_incr", what = "probeSimhashIndex",
    table = "documents", splitIdCol = "doc_id",
    corpus = (s, dir) => T(s, dir).documents, featOf = simhashFeatOf,
    prefix = s"sh2-$simhashKernelFp",
    idCol = "doc_id", featSubdir = "sims", featShardCol = "sshard",
    sideDdl = "doc_id BIGINT, simhash BIGINT, sshard BIGINT",
    bandedOf = simhashBandedOf,
    sideOf = identity,
    kRename = d => d.select(col("doc_id").as("keeper"),
      col("simhash").as("k_sim")),
    verify = (cand, feat, kSide) =>
      hammingVerify(cand,
        feat.select(col("doc_id"), col("simhash").as("d_sim")), kSide),
    counted = identity)

  /** dd_simhash_incr: incremental SimHash dedup — [[ddMinhashIncr]]'s
    * ingest pattern applied to the simhash family. Output =
    * [[ddSimhash]] over the full corpus restricted to the increment
    * (exact equality, spec-asserted); probe-time reads are the
    * increment slice plus pruned index partitions — never the corpus
    * proper. ORACLE-EXACT: the md5 token hash makes the fingerprint
    * SQL-derivable, so DuckDB recomputes the full election restricted
    * to the increment (`max id − max id // 5`), on top of the
    * probe≡batch equality spec + the PartitionFilters plan lock. */
  val ddSimhashIncr = incrQuery(simhashFamily,
    oracle = Some(s"""
      WITH sp AS (
        SELECT MAX(doc_id) - MAX(doc_id) // 5 AS split FROM documents),
      $shOracleCtes
      SELECT doc_id, keeper, hamming, hamming <= 6 AS is_dup FROM ve
      WHERE doc_id >= (SELECT split FROM sp)
      ORDER BY doc_id"""))

  /** Embedding family, over the EMBEDDINGS table (versioned by its max
    * vec_id and mtime): the keeper side table holds (vec_id, v, norm)
    * for exactly the bucket keepers — the cosine verify needs no other
    * corpus vectors. */
  private[graft] lazy val embeddingFamily = IncrFamily(
    name = "embedding", query = "dd_embedding_incr", what = "probeEmbeddingIndex",
    table = "embeddings", splitIdCol = "vec_id",
    corpus = (s, dir) => T(s, dir).embeddings, featOf = embFeatOf,
    prefix = s"emb-$embKernelFp",
    idCol = "vec_id", featSubdir = "vecs", featShardCol = "vshard",
    sideDdl = "vec_id BIGINT, v ARRAY<FLOAT>, norm DOUBLE, vshard BIGINT",
    bandedOf = embBandedOf,
    sideOf = f => f.select(col("vec_id"), col("v"), col("norm")),
    kRename = d => d.select(col("vec_id").as("keeper"), col("v").as("kv"),
      col("norm").as("kn")),
    verify = (cand, feat, kSide) =>
      cosineVerify(cand,
        feat.select(col("vec_id"), col("v"), col("norm")), kSide),
    counted = identity)

  /** dd_embedding_incr: incremental embedding dedup — the fourth index
    * family, closing the last modality that still re-scanned its corpus
    * at ingest (text minhash/simhash and images already probe persisted
    * indexes). Rows-only check (float-dependent cosine); pinned by the
    * equality spec + the shared PartitionFilters plan lock. */
  val ddEmbeddingIncr = incrQuery(embeddingFamily, oracle = None)

  val defs: Seq[QueryDef] = Seq(simTopkDot, simTopkCosine, simTopkCosineQ,
    simLshTopk, simIvfTopk, ddMinhash, ddMinhashCc, ddMinhashIncr,
    ddSimhash, ddSimhashIncr, ddEmbedding, ddEmbeddingIncr)
}
