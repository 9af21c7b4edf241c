package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryModule, Scratch, Tables}

/** Deduplication operators for large-scale training-data pipelines: exact
  * (content fingerprint), n-gram Jaccard (blocked), MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Everything is declarative DataFrame API over built-in + higher-order
  * functions — no UDFs, no collect — so plans distribute and Catalyst prunes.
  *
  * Cross-engine determinism: token hashes are the first 60 bits of md5 (both
  * engines agree), MinHash permutations are pure 64-bit integer affine maps
  * mod the Mersenne prime 2^31-1, SimHash is integer bit math — every
  * operator's output is exactly reproducible in the DuckDB oracle.
  *
  * Scale design (100 TB):
  *   - exact dedup: one hash-shuffle on the fingerprint; state per group O(1).
  *   - n-gram Jaccard: 3-token shingles, candidates from the same MinHash
  *     band machinery as the unigram path — never an all-pairs join.
  *   - MinHash+LSH: signatures are per-row (map-only); candidate generation is
  *     an equi-join on (band, band_key) — the quadratic step happens only
  *     inside colliding buckets, which is the whole point of LSH; verification
  *     re-joins token sets for exact Jaccard on candidates only.
  *   - SimHash: per-row 64-bit signature; candidates via 4×16-bit chunk
  *     pigeonhole (guaranteed recall for hamming ≤ 3), verified by popcount.
  *   - embedding near-dup: blocked by Similarity.lshTableBuckets, the
  *     multi-table hyperplane LSH (map-only assignment, equi-join on
  *     (table, bucket)); dot products are per-pair codegen'd vec_dot
  *     expressions, never driver-side.
  */
object Dedup extends QueryModule {

  // ---- shared cross-engine text primitives ----

  /** Raw token sequence: lowercase [a-z]+ runs (matches TextStats tokenizer,
    * stop words kept — dedup wants full content).
    */
  val rawTokens = "regexp_extract_all(lower(text), '[a-z]+', 0)"
  val rawTokensDuck = "regexp_extract_all(lower(text), '[a-z]+')"

  /** Distinct token set (order-normalized). */
  val tokenSet = s"array_sort(array_distinct($rawTokens))"
  val tokenSetDuck = s"list_sort(list_distinct($rawTokensDuck))"

  /** 60-bit token hash both engines compute identically: first 15 hex chars
    * of md5. Spark `conv` base-16→10 then cast; DuckDB hex-literal cast.
    */
  def hash60(expr: String): String =
    s"CAST(conv(substring(md5($expr), 1, 15), 16, 10) AS BIGINT)"
  def hash60Duck(expr: String): String =
    s"CAST(('0x' || substring(md5($expr), 1, 15)) AS BIGINT)"

  /** Bounded-iteration connected-components oracle chain (DuckDB): from a
    * SYMMETRIC `edges(a, b)` CTE, `CcRounds` rounds of min-label propagation
    * each followed by one pointer jump (`l <- l(l)`), ending in
    * `lbl$CcRounds(id, l)` — the oracle twin of the Spark [[components]]
    * iteration. This replaces the recursive-CTE transitive closure, whose
    * path enumeration explodes on dense graphs (20 GB+ and no convergence
    * on the 262k-edge d=1 name graph at sf0.1) with work bounded at
    * `CcRounds × |edges|`. Correctness of a FIXED round count: labels only
    * decrease and any propagation fixed point is exactly the per-component
    * min labeling (local consistency forces label equality across every
    * edge, and a constant label above the component min contradicts
    * monotonicity at the min node), while the pointer jump doubles covered
    * distance per round — so 20 rounds converge for any component a
    * million nodes deep; the driver's equality gate against the Spark
    * labels would catch under-iteration.
    */
  private val CcRounds = 20

  private[graft] val ccLabelCtesDuck: String = {
    // every stage MATERIALIZED: DuckDB otherwise inlines a CTE per
    // reference, expanding the upstream edge scan once per round — which
    // re-opens the source parquet hundreds of times ("Too many open
    // files") and re-runs the candidate build per round
    val init =
      """edges_m AS MATERIALIZED (SELECT a, b FROM edges),
         lbl0 AS MATERIALIZED (
          SELECT e.a AS id, LEAST(e.a, MIN(e.b)) AS l FROM edges_m e GROUP BY e.a
        )"""
    val steps = (1 to CcRounds).map { r =>
      s"""prop$r AS MATERIALIZED (
            SELECT e.a AS id, LEAST(MIN(sa.l), MIN(sb.l)) AS l
            FROM edges_m e
            JOIN lbl${r - 1} sa ON sa.id = e.a
            JOIN lbl${r - 1} sb ON sb.id = e.b
            GROUP BY e.a
          ), lbl$r AS MATERIALIZED (
            SELECT p.id, COALESCE(q.l, p.l) AS l
            FROM prop$r p LEFT JOIN prop$r q ON q.id = p.l
          )"""
    }
    // in-query fixpoint assertion: labels are monotone non-increasing, so a
    // full round that changes NOTHING is a fixed point (= exact component
    // minima, per the proof above). If round `CcRounds` still moved a label,
    // the chain was under-iterated and the oracle would silently drift from
    // Spark — which would be misdiagnosed as an engine bug. error() makes
    // under-iteration a LOUD oracle failure instead; the `+ 0` through the
    // scalar subquery is what forces the check CTE to evaluate.
    val check =
      s"""ccconv AS MATERIALIZED (
            SELECT CASE WHEN COUNT(*) = 0 THEN 0
                   ELSE error('ccLabelCtesDuck: labels still moving after $CcRounds rounds — raise `rounds`')
                   END AS z
            FROM lbl${CcRounds - 1} x JOIN lbl$CcRounds y ON x.id = y.id
            WHERE x.l <> y.l
          ), lblcc AS MATERIALIZED (
            SELECT s.id, s.l + (SELECT z FROM ccconv) AS l FROM lbl$CcRounds s
          )"""
    (init +: steps :+ check).mkString(",\n")
  }

  /** The final label CTE name emitted by [[ccLabelCtesDuck]] (labels routed
    * through the convergence gate).
    */
  private[graft] val ccLabelFinal: String = "lblcc"

  /** Distinct token hashes per document. */
  val tokenHashes = s"transform($tokenSet, w -> ${hash60("w")})"
  def tokenHashesDuckOf(arr: String): String = s"list_transform($arr, w -> ${hash60Duck("w")})"
  val tokenHashesDuck: String = tokenHashesDuckOf(tokenSetDuck)

  /** Distinct 3-token shingles over the ordered token stream `t` (n-gram
    * granularity for near-dup: catches local edits that unigram sets miss).
    */
  val ShingleN = 3
  val shinglesOfT =
    s"""array_distinct(transform(sequence(0, size(t) - $ShingleN), i ->
          concat_ws(' ', element_at(t, i + 1), element_at(t, i + 2), element_at(t, i + 3))))"""
  val shinglesOfTDuck =
    s"""list_distinct(list_transform(range(0, len(t) - ${ShingleN - 1}), i ->
          t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))"""

  // ---- MinHash parameters (SURVEY-independent extension surface) ----
  // 96 permutations = 8 bands x 12 rows: tuned for this corpus's s-curve
  // (median pair Jaccard 0.63 -> ~3% candidate rate; J=0.9 -> 93% recall).
  val NumPerms = 96
  val Bands = 8
  val RowsPerBand = 12
  private val M = 2147483647L // Mersenne prime 2^31-1

  /** Skew guard: candidate buckets larger than this are dropped BEFORE the
    * self-join. A boilerplate band (every doc sharing a template header
    * collides on it) otherwise goes quadratic — a 1M-doc hot bucket is
    * 5·10¹¹ candidate pairs from one key. Dropping an oversized bucket loses
    * only pairs whose docs share NO other band (the LSH OR-structure keeps
    * every pair that collides anywhere else), and true high-Jaccard dups
    * collide in many bands. 10k² = 5·10⁷ pairs is the worst single-bucket
    * term the cap admits; a no-op at fixture scale (largest fixture bucket
    * ≪ 10k), and mirrored exactly in the oracle so the gate stays green.
    *
    * If cap-sized buckets are COMMON in a corpus (the 5·10⁷-pair term lands
    * on one task per bucket), salt the self-join: x side keyed
    * (band, band_key, hash(doc_id) % S) and repartitioned on it, y side
    * tag-replicated S×, which splits each bucket's expansion across S
    * tasks. Measured on this fixture it costs ~0.6 s (replication +1
    * exchange) with no win — the cap already bounds the term — so the plain
    * join ships; the salted form is the drop-in when the skew profile flips.
    */
  val MaxBucket = 10000

  /** Design-time LSH planner: among (bands, rows) factorizations of the
    * permutation budget, pick the one whose s-curve midpoint (1/b)^(1/r)
    * sits closest to the target Jaccard threshold (ties → more rows, the
    * sharper curve). The shipped 8×12 is this planner's answer for the
    * fixture profile (midpoint 0.84, chosen low of τ=0.9 to buy recall at
    * the measured 0.63 background similarity); rerun the planner + the
    * `similarity_lsh_recall` loop when a corpus's pair-similarity profile
    * differs.
    */
  def lshPlan(tau: Double, n: Int = NumPerms): (Int, Int) =
    (1 to n).filter(n % _ == 0).map(b => (b, n / b))
      .minBy { case (b, r) => (math.abs(math.pow(1.0 / b, 1.0 / r) - tau), -r) }

  /** MinHash signature: sig[k] = min over tokens of ((37k+11)(h mod M) + 101k+7) mod M.
    * Affine-mod permutations in 64-bit integer math — products stay < 2^43.
    *
    * Spark side computes this as explode → 96 codegen'd `min` aggregate
    * columns (see `minhashSigs`), not as nested higher-order functions: the
    * HOF form is interpreted per-lambda-call (96 × tokens evals/doc) and was
    * ~25× slower. The DuckDB oracle keeps the declarative form — the two are
    * the same integer math over the same distinct-token set.
    */
  def minhashSigDuckOf(hashes: String): String =
    s"""list_transform(range(0, $NumPerms), k ->
          list_min(list_transform($hashes, h ->
            ((37 * k + 11) * (h % $M) + 101 * k + 7) % $M)))"""

  /** SimHash: per bit j, majority vote of token-hash bits (+1/-1). Spark side
    * uses the equivalent formulation `2 * ones(j) > tokens` over exploded
    * rows (64 codegen'd `sum` aggregates, see `simhashSigs`) — a +1/-1 sum
    * being positive is exactly the ones-count exceeding half the tokens.
    */
  val simhashDuck =
    s"""list_sum(list_transform(range(0, 64), j ->
          CASE WHEN list_sum(list_transform($tokenHashesDuck, h ->
                 CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
               THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END))"""

  // ---- codegen-friendly signature plans ----

  /** (doc_id, g): sorted distinct 60-bit TOKEN-HASH set per document. The
    * LSH pipeline works on the hash universe, not the strings: Jaccard over
    * the hashed sets equals Jaccard over the token sets (both engines hash
    * identically), and the verification-stage intersections become integer
    * array work instead of string comparisons.
    *
    * Memoized per sfDir: the md5 tokenization pass runs ONCE per corpus per
    * run and every consumer (`dedup_minhash_lsh`, `dedup_simhash`,
    * `dedup_incremental`, `dedup_components`) scans the same scratch parquet.
    */
  private def docTokens(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.memoize(spark, s"$sfDir#dedup#doc_tokens") {
      // hash60 per token via the codegen'd hash60_array kernel (r18 —
      // the per-element lambda form ran interpreted with a fresh
      // MessageDigest + hex round-trip per token; Hash60KernelSpec pins
      // value equality)
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), expr(s"array_sort(hash60_array($tokenSet))").as("g"))
    }

  /** Exploded (doc_id, h) hash rows. Everything downstream of this is plain
    * codegen'd projection + hash aggregation — no interpreted lambdas in the
    * per-token hot path.
    */
  private def tokenHashRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("g")).as("h"))

  /** (doc_id, sig array<bigint>[96]) — MAP-ONLY via the codegen'd
    * [[graft.functions.MinhashSig]] kernel (r18 optimization, guide §2.4:
    * the r17 explode → 96-min-aggregate formulation paid a corpus-wide
    * signature Exchange plus per-exploded-token evaluation of 96 aggregate
    * columns; the kernel computes the identical integers in one tight JVM
    * loop per document with zero shuffle — MinhashKernelSpec pins
    * bit-equality against the agg form). The `size(g) > 0` filter
    * reproduces the explode form's drop of token-less documents.
    */
  private def minhashSigs(docs: DataFrame): DataFrame =
    docs.filter(col("g").isNotNull && size(col("g")) > 0)
      .select(col("doc_id"), expr(s"minhash_sig(g, $NumPerms)").as("sig"))

  /** (doc_id, sh): 64-bit SimHash — MAP-ONLY via the codegen'd
    * [[graft.functions.SimhashSig]] kernel (same r18 shuffle-elimination
    * as [[minhashSigs]]; was explode → 64 sum aggregates + majority).
    */
  private def simhashSigs(docs: DataFrame): DataFrame =
    docs.filter(col("g").isNotNull && size(col("g")) > 0)
      .select(col("doc_id"), expr("simhash_sig(g)").as("sh"))

  // ---- queries ----

  /** Exact dedup on a normalized content fingerprint (sorted distinct token
    * set → md5). One shuffle on the fingerprint; min(doc_id) is the canonical
    * survivor. Raw-byte exact dedup is the same plan with md5(text).
    */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    exactDedupTable(spark, sfDir).orderBy("doc_id")

  /** [[exactDedup]]'s unordered core, MEMOIZED per corpus per run — the
    * shared duplicate gate: `dedup_exact` presents it ordered,
    * `train_decontaminated_split` joins its flag, both off one scratch
    * parquet (the e1340df repeated-subtree treatment).
    */
  def exactDedupTable(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.memoize(spark, s"$sfDir#dedup#exact") {
      val w = Window.partitionBy("fingerprint")
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          expr(s"md5(array_join($tokenSet, ' '))").as("fingerprint"))
        .withColumn("canonical_id", min("doc_id").over(w))
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
    }

  private[pipeline] val exactDedupSql =
    s"""WITH f AS (
          SELECT doc_id, md5(array_to_string($tokenSetDuck, ' ')) AS fingerprint
          FROM documents)
        SELECT doc_id, fingerprint,
               MIN(doc_id) OVER w AS canonical_id,
               COUNT(*) OVER w AS group_size,
               doc_id <> MIN(doc_id) OVER w AS is_duplicate
        FROM f WINDOW w AS (PARTITION BY fingerprint)
        ORDER BY doc_id"""

  /** (doc_id, band, band_key): `Bands` rows per doc from a (doc_id, sig)
    * frame. band_key is the 12 band rows joined then folded to a 60-bit
    * BIGINT via the shared hash60 — an 8-byte shuffle key instead of a
    * ~60-char string (the candidate shuffle is the widest one in the LSH
    * queries; same hash on the oracle side).
    */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(expr(s"""transform(sequence(0, ${Bands - 1}), b ->
        ${hash60(s"array_join(slice(sig, b * $RowsPerBand + 1, $RowsPerBand), '-')")})"""))
        .as(Seq("band", "band_key")))

  /** Shared LSH near-dup pipeline over any (doc_id, g: array<bigint>) hash
    * universe: MinHash signatures (codegen'd agg) → band explode → bucket
    * equi-join for candidates → exact-Jaccard verification on candidates
    * only, τ=`threshold`. The quadratic step happens only inside colliding
    * band buckets — the LSH guarantee — so the plan survives corpus growth;
    * no all-pairs join keyed on low-cardinality metadata anywhere.
    */
  /** (doc_id, band, band_key) for a (doc_id, g) hash universe, memoized per
    * stage: consumed by both sides of the candidate self-join AND (for the
    * unigram stage) by `incrementalDedup`, whose corpus/batch split is a
    * filter of this table rather than a second signature computation.
    */
  private def lshBands(spark: SparkSession, stageKey: String, docs: DataFrame): DataFrame =
    Scratch.memoize(spark, s"$stageKey#bands") {
      bandsOf(minhashSigs(docs))
    }

  private def lshPairs(spark: SparkSession, stageKey: String,
                       docs: DataFrame, threshold: Double): DataFrame =
    // The whole pair table is memoized on (sfDir-qualified) stageKey: within
    // one run, `dedup_minhash_lsh` and `dedup_components` (which unions the
    // same pairs) compute it once and both scan the scratch parquet. `docs`
    // must already be a memoized/materialized (doc_id, g) scan — it is
    // consumed three times (signature agg + both verification sides).
    Scratch.memoize(spark, s"$stageKey#pairs#$threshold") {
      // The signature agg is consumed twice (band self-join) and the banded
      // form is per-doc deterministic, so it is MEMOIZED per stage — both
      // self-join sides scan the same immutable files (no block-manager
      // pinning, no eager cache+count race), and `incrementalDedup` reuses
      // the same table by filtering it (bands of a doc subset = subset of
      // the bands). NOTE a bucket-explode formulation (groupBy collect_list
      // + chunked pair transform) was benchmarked and LOST to this join by
      // ~1.6×: the nested higher-order functions build interpreted
      // GenericArrayData per cell while the join stays inside whole-stage
      // codegen end-to-end.
      val candidates = lshCandidatePairs(spark, stageKey, docs)
      val ga = docs.select(col("doc_id").as("ia"), col("g").as("ga"))
      val gb = docs.select(col("doc_id").as("ib"), col("g").as("gb"))
      candidates.join(ga, "ia").join(gb, "ib")
        // fused one-merge-pass set Jaccard over the sorted hash arrays —
        // allocation-free codegen replacement for the intersect/union pair
        // (graft.functions.JaccardSorted; same value bit-for-bit)
        .withColumn("jaccard", expr("jaccard_sorted(ga, gb)"))
        .filter(col("jaccard") >= threshold)
        .select("ia", "ib", "jaccard")
    }

  /** Distinct band-collision candidate pairs (ia < ib) over a memoized
    * (doc_id, g) hash universe — the LSH candidate stage shared by the
    * Jaccard verifiers ([[lshPairs]]) and the exact-dot cosine verifier
    * ([[sparseCosineLsh]]).
    */
  private def lshCandidatePairs(spark: SparkSession, stageKey: String,
                                docs: DataFrame): DataFrame = {
    val allBands = lshBands(spark, stageKey, docs)
    // skew guard (see MaxBucket): the window shuffle partitions by the same
    // keys the self-join needs, so the exchange is reused, not added
    val bands = allBands
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band", "band_key")))
      .filter(col("bucket_n") <= MaxBucket)
      .drop("bucket_n")
    bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
      // distinct BEFORE verification is load-bearing: bands duplicate each
      // colliding pair ~2.3×, and deduping after the array-intersect
      // verify instead measured 4× slower end-to-end
      .distinct()
  }

  /** The LSH candidate CTE chain (DuckDB): `docCte` must define
    * `d(doc_id, g)` with `g` the sorted 60-bit hash list; ends with
    * `cand(ia, ib)` — the twin of [[lshCandidatePairs]].
    */
  // `d` and `bands` are MATERIALIZED: DuckDB inlines CTEs per reference,
  // so without the hint the tokenize+hash pass runs once per verify-join
  // side (d is referenced 3x) and the 96-permutation signature build runs
  // once per self-join side (bands is referenced 2x) — measured 2-3x on
  // the oracle side at sf0.1
  private def lshCandCtesDuck(docCte: String): String =
    s"""${docCte.replaceFirst("d AS \\(", "d AS MATERIALIZED (")}, s AS (
          SELECT doc_id, g, ${minhashSigDuckOf("g")} AS sig FROM d
        ), all_bands AS (
          SELECT doc_id, b AS band,
                 ${hash60Duck(s"array_to_string(sig[b * $RowsPerBand + 1 : (b + 1) * $RowsPerBand], '-')")}
                   AS band_key
          FROM s, (SELECT unnest(range(0, $Bands)) AS b)
        ), bands AS MATERIALIZED (
          SELECT doc_id, band, band_key FROM (
            SELECT doc_id, band, band_key,
                   COUNT(*) OVER (PARTITION BY band, band_key) AS bucket_n
            FROM all_bands)
          WHERE bucket_n <= $MaxBucket
        ), cand AS (
          SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
          FROM bands x JOIN bands y
            ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id
        )"""

  /** DuckDB twin of [[lshPairs]]: `docCte` must define `d(doc_id, g)` with
    * `g` the sorted 60-bit hash list.
    */
  private def lshPairsSql(docCte: String, threshold: Double): String =
    s"""WITH ${lshCandCtesDuck(docCte)}
        SELECT c.ia, c.ib,
               CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                 / len(list_distinct(a.g || b.g)) AS jaccard
        FROM cand c JOIN d a ON c.ia = a.doc_id JOIN d b ON c.ib = b.doc_id
        WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                / len(list_distinct(a.g || b.g)) >= $threshold
        ORDER BY c.ia, c.ib"""

  /** N-gram (3-token shingle) Jaccard near-dup pairs, τ=0.9, LSH-blocked.
    * Shingle granularity catches local edits that unigram sets miss; the
    * candidate generation is the same MinHash band machinery as
    * `dedup_minhash_lsh` (run over the shingle universe), NOT an all-pairs
    * join — metadata blocking (the previous shape) is quadratic within block
    * and does not survive corpus growth.
    */
  def jaccardDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Scratch.memoize(spark, s"$sfDir#dedup#shingle${ShingleN}_docs") {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), expr(rawTokens).as("t"))
        .filter(size(col("t")) >= ShingleN)
        .select(col("doc_id"),
          expr(s"array_sort(hash60_array($shinglesOfT))").as("g"))
    }
    lshPairs(spark, s"$sfDir#dedup#shingle$ShingleN", docs, 0.9)
      .orderBy("ia", "ib")
  }

  private val jaccardDedupSql = lshPairsSql(
    s"""t AS (SELECT doc_id, $rawTokensDuck AS t FROM documents),
        d AS (SELECT doc_id, list_sort(${tokenHashesDuckOf(shinglesOfTDuck)}) AS g
              FROM t WHERE len(t) >= $ShingleN)""",
    0.9)

  /** MinHash + LSH near-dup pairs over unigram token sets, corpus-wide,
    * τ=0.9: signature (map-only) → band explode → bucket equi-join for
    * candidates → exact-Jaccard verification on candidates only.
    */
  private[pipeline] def minhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    lshPairs(spark, s"$sfDir#dedup#minhash_unigram", docTokens(spark, sfDir), 0.9)

  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    minhashPairs(spark, sfDir).orderBy("ia", "ib")

  private[pipeline] val minhashLshSql =
    lshPairsSql(s"d AS (SELECT doc_id, list_sort($tokenHashesDuck) AS g FROM documents)", 0.9)

  /** SimHash near-dup pairs (hamming ≤ 3): per-row 64-bit signature, 4×16-bit
    * chunk pigeonhole blocking (any pair within hamming 3 shares ≥1 exact
    * chunk), popcount verification.
    *
    * Scale bound: 65,536 buckets per chunk position caps the blocking at
    * ~corpus/65k pairs-per-bucket quadratic growth — adequate to hundreds of
    * millions of docs. Beyond that, split each chunk again (two-level
    * pigeonhole: match on chunk, refine on half-chunk) before the popcount.
    */
  private def simhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    // memoized whole, like the MinHash pair table: `dedup_simhash` and
    // `dedup_components` share one computation per run
    Scratch.memoize(spark, s"$sfDir#dedup#simhash#pairs") {
      val docs = simhashSigs(docTokens(spark, sfDir))
      // self-joined below; scratch materialization computes the 64-column
      // signature agg exactly once (see Scratch.materialize)
      val chunks = Scratch.materialize(
        docs.select(col("doc_id"), col("sh"),
          // MASKED extraction (& 65535, never a signed modulo): hash60
          // signatures never set bit 63 today, but the pigeonhole must not
          // silently break if a future signature does (the sign-straddling
          // bug fixed in Multimodal.ahashPairs)
          posexplode(expr(
            "transform(sequence(0, 3), c -> shiftright(sh, c * 16) & 65535)"))
            .as(Seq("chunk_id", "chunk"))),
        "graft_simhash_chunks")
      val candidates = chunks.as("x").join(chunks.as("y"),
          col("x.chunk_id") === col("y.chunk_id") && col("x.chunk") === col("y.chunk") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"),
          col("x.sh").as("sha"), col("y.sh").as("shb"))
        .distinct()
      candidates
        .withColumn("hamming", expr("bit_count(sha ^ shb)"))
        .filter(col("hamming") <= 3)
        .select("ia", "ib", "hamming")
    }

  def simhashDedup(spark: SparkSession, sfDir: String): DataFrame =
    simhashPairs(spark, sfDir).orderBy("ia", "ib")

  private val simhashDedupSql =
    s"""WITH d AS (
          SELECT doc_id, $simhashDuck AS sh FROM documents
          WHERE len($rawTokensDuck) > 0 -- token-less docs have no signature
                                        -- (Spark side drops them at explode)
        ), chunks AS (
          SELECT doc_id, sh, c AS chunk_id, (sh >> (c * 16)) & 65535 AS chunk
          FROM d, (SELECT unnest(range(0, 4)) AS c)
        ), cand AS (
          SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib, x.sh AS sha, y.sh AS shb
          FROM chunks x JOIN chunks y
            ON x.chunk_id = y.chunk_id AND x.chunk = y.chunk AND x.doc_id < y.doc_id
        )
        SELECT ia, ib, CAST(bit_count(xor(sha, shb)) AS INT) AS hamming
        FROM cand WHERE bit_count(xor(sha, shb)) <= 3
        ORDER BY ia, ib"""

  /** Embedding-cosine near-dup pairs (τ=0.4) with candidates from multi-table
    * random-hyperplane LSH ([[Similarity.lshTableBuckets]]) — the scale-safe
    * shape: bucket assignment is map-only, the pair join shuffles on
    * (table, bucket), and the quadratic term is bounded by
    * corpus/2^TableBits per table instead of all-pairs; OR-ing the tables
    * recovers recall (same banding trick as MinHash-LSH). The oracle mirrors
    * the same bucket math exactly; dot products are strict left folds in
    * double — bit-identical across engines.
    */
  def embeddingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // bucket table is self-joined and vectors re-joined for scoring; scratch
    // materialization computes norms + buckets exactly once (see Scratch)
    val e = Scratch.materialize(
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").as("v"))
        .withColumn("nrm", expr("sqrt(vec_dot(v, v))"))
        .withColumn("buckets", expr(Similarity.lshTableBuckets("v"))),
      "graft_embdedup")
    val tables = e.select(col("vec_id"),
      posexplode(col("buckets")).as(Seq("t", "bucket")))
    val cand = tables.as("x").join(tables.as("y"),
        col("x.t") === col("y.t") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("ia"), col("y.vec_id").as("ib"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("ia"), col("v").as("va"), col("nrm").as("na")), "ia")
      .join(e.select(col("vec_id").as("ib"), col("v").as("vb"), col("nrm").as("nb")), "ib")
      .withColumn("cosine", expr("vec_dot(va, vb)") / (col("na") * col("nb")))
      .filter(col("cosine") >= 0.4)
      .select("ia", "ib", "cosine")
      .orderBy("ia", "ib")
  }

  private val embeddingDedupSql =
    s"""WITH e AS (
          SELECT vec_id, embedding AS v, ${Similarity.normDuck("embedding")} AS nrm,
                 ${Similarity.lshTableBucketsDuck("embedding")} AS buckets
          FROM embeddings
        ), tb AS (
          SELECT vec_id, i AS t, buckets[i + 1] AS bucket
          FROM e, (SELECT unnest(range(0, ${Similarity.NumTables})) AS i)
        ), cand AS (
          SELECT DISTINCT x.vec_id AS ia, y.vec_id AS ib
          FROM tb x JOIN tb y
            ON x.t = y.t AND x.bucket = y.bucket AND x.vec_id < y.vec_id
        )
        SELECT c.ia, c.ib,
               ${Similarity.dotDuck("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
        FROM cand c JOIN e a ON c.ia = a.vec_id JOIN e b ON c.ib = b.vec_id
        WHERE ${Similarity.dotDuck("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4
        ORDER BY c.ia, c.ib"""

  // ---- semantic dedup (SemDeDup: cluster-blocked embedding pruning) ----

  /** Cosine bar for a semantic duplicate — the [[embeddingDedup]] τ, kept
    * identical so the two embedding-dedup paths are comparable on the same
    * fixture (production SemDeDup runs τ ≈ 0.95+ on real encoder output).
    */
  val SemTau = 0.4

  /** `dedup_semantic`: SemDeDup-style pruning (Abbas et al. 2023, public) —
    * k-means-cell blocking instead of LSH buckets. Every vector is assigned
    * to its nearest centroid's Voronoi cell (the memoized
    * [[SimilaritySearch.ivfCorpus]] pass, shared with the IVF search
    * queries), pairwise cosine is computed ONLY within a cell, and a vector
    * is dropped when some lower-id cell-mate sits at cosine ≥ [[SemTau]] —
    * the upper-triangular keep-first rule of the published implementation
    * (no chaining: j being itself dropped does not re-admit i). One row per
    * dropped vector with its first (min-id) keeper and that pair's cosine.
    *
    * Scale (100 TB): assignment is a map-only argmin; the quadratic term is
    * confined to cells, so cell count must grow with the corpus
    * (k ≈ N / target-cell-size; the paper uses ~N/10⁴ — at fixture scale
    * [[Similarity.NumCentroids]] cells of ~N/16). Cosine doubles are
    * bit-identical across engines (strict-left-fold `vec_dot`); tie-free
    * keeper choice via min id. vs [[embeddingDedup]]: cells give each
    * vector ONE block (no OR-table candidate dedup pass), at the price of
    * missing near-dups that straddle a Voronoi boundary — the documented
    * SemDeDup recall trade.
    */
  def semanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val cells = SimilaritySearch.ivfCorpus(spark, sfDir)
    val left = cells.select(col("bucket"), col("vec_id").as("ia"),
      col("v").as("va"), col("nrm").as("na"))
    val right = cells.select(col("bucket").as("bktb"), col("vec_id").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    left.join(right, col("bucket") === col("bktb") && col("ia") < col("ib"))
      .withColumn("cosine", expr("vec_dot(va, vb)") / (col("na") * col("nb")))
      .filter(col("cosine") >= SemTau)
      .withColumn("rk", row_number().over(
        Window.partitionBy("ib").orderBy("ia")))
      .filter(col("rk") === 1)
      .select(col("bucket"), col("ib").as("vec_id"), col("ia").as("keeper_id"),
        col("cosine"))
      .orderBy("bucket", "vec_id")
  }

  private val semanticDedupSql =
    s"""WITH e AS (
          SELECT vec_id, embedding AS v, ${Similarity.normDuck("embedding")} AS nrm,
                 ${Similarity.ivfScoresDuck("embedding")} AS scores
          FROM embeddings
        ), a AS (
          SELECT vec_id, v, nrm,
                 CAST(list_position(scores, list_min(scores)) - 1 AS INT) AS bucket
          FROM e
        ), p AS (
          SELECT x.bucket AS bucket, x.vec_id AS ia, y.vec_id AS ib,
                 ${Similarity.dotDuck("x.v", "y.v")} / (x.nrm * y.nrm) AS cosine
          FROM a x JOIN a y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
          WHERE ${Similarity.dotDuck("x.v", "y.v")} / (x.nrm * y.nrm) >= $SemTau
        ), r AS (
          SELECT *, row_number() OVER (PARTITION BY ib ORDER BY ia) AS rk FROM p
        )
        SELECT bucket, ib AS vec_id, ia AS keeper_id, cosine
        FROM r WHERE rk = 1 ORDER BY bucket, vec_id"""

  // ---- incremental dedup against a persisted band index ----

  /** `dedup_incremental`: dedup NEW documents against an already-indexed
    * corpus WITHOUT re-shuffling the corpus — the steady-state shape of a
    * production ingest pipeline, where the corpus index is built once and
    * each arriving batch only probes it.
    *
    * Split (fixture stand-in for "existing corpus" vs "today's batch"):
    * corpus = doc_id % 10 != 0, new = doc_id % 10 == 0. The corpus band
    * table is persisted BUCKETED BY the join key (band, band_key): a probe
    * join then reads the index partitioning straight from the files — no
    * Exchange on the corpus side, only the (much smaller) probe side
    * shuffles into the bucket layout (asserted in PlanAssertionsSpec).
    * At 100 TB the index build amortizes across every future batch; daily
    * ingest cost is proportional to the batch, not the corpus.
    */
  /** The persisted corpus band index, built on first use per (JVM, sfDir)
    * via [[Scratch.memoizeBucketed]] (per-key future, per-JVM nonce name,
    * eager file cleanup on drop): same-JVM re-runs (Bench best-of-N,
    * components) reuse the already-built index instead of re-shuffling the
    * corpus — exactly the amortization the production ingest path relies
    * on. `Scratch.dropBucketedTables` resets between bench passes.
    */
  private def bandIndex(spark: SparkSession, sfDir: String, corpusBands: => DataFrame): DataFrame =
    // the "offline" index build: banded signatures, bucketed by the probe key
    Scratch.memoizeBucketed(spark, s"$sfDir#dedup#band_index", "graft_band_index",
      Seq("band", "band_key"))(corpusBands)

  // ---- exact-substring span overlap ----

  /** Span-overlap parameters: pairs must share ≥ [[MinSharedWindows]]
    * distinct token-8-gram hashes (≈ a ≥15-token contiguous common span, or
    * several shorter ones) to be reported. 8-grams are taken at EVERY token
    * position — stride-free, so shared spans match regardless of where an
    * edit shifts them (a strided variant breaks on any shift that is not a
    * stride multiple). [[MaxDocsPerWindow]] is the hot-key guard: an 8-gram
    * shared by more docs than this (boilerplate headers) is dropped before
    * the self-join, exactly like [[MaxBucket]] for LSH bands.
    */
  val SpanTokens = 8
  val MinSharedWindows = 8
  val MaxDocsPerWindow = 1000

  /** `dedup_span_overlap`: document pairs sharing exact token spans — the
    * substring-level duplication detector (the check RefinedWeb-class
    * pipelines run beside MinHash): set-level Jaccard dilutes a copied
    * paragraph inside two long, otherwise-different documents below any
    * sane τ, while the copied span's 8-grams match exactly.
    *
    * Shape: codegen'd zip/slice gram generation (no interpreted lambdas),
    * distinct (doc_id, h) memoized to scratch, hot-window guard reusing the
    * window count's clustering, then an equi-join on 8-byte hashes whose
    * per-pair count IS the verification — no second pass. 100 TB: the join
    * moves (doc, hash) pairs only, never text; the guard bounds any single
    * key's expansion at MaxDocsPerWindow².
    */
  /** Distinct (doc_id, h) token-8-gram hash table — the memoized stage
    * shared by [[spanOverlap]] and [[ngramNovelty]] (one gram explode per
    * corpus per run).
    */
  private def spanWindows(spark: SparkSession, sfDir: String): DataFrame = {
    def f(k: String) = col("z").getField(k)
    val slices = (2 to SpanTokens).map(k => s"slice(t, $k, size(t))").mkString(", ")
    Scratch.memoize(spark, s"$sfDir#dedup#span_windows") {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"), expr(rawTokens).as("t"))
        .filter(expr(s"size(t) >= $SpanTokens"))
        .select(col("doc_id"), explode(expr(s"arrays_zip(t, $slices)")).as("z"))
        .filter(f((SpanTokens - 1).toString).isNotNull)
        .select(col("doc_id"), concat_ws(" ",
          f("t") +: (1 until SpanTokens).map(k => f(k.toString)): _*).as("gram"))
        .select(col("doc_id"), expr(hash60("gram")).as("h"))
        .distinct()
    }
  }

  /** Shared DuckDB CTE text for the distinct (doc_id, h) 8-gram table. */
  private val spanWindowsCtes = {
    val gram = (1 to SpanTokens).map(k => s"t[i + $k]").mkString(" || ' ' || ")
    s"""toks AS (
          SELECT doc_id, $rawTokensDuck AS t FROM documents
          WHERE len($rawTokensDuck) >= $SpanTokens
        ), wins AS (
          SELECT DISTINCT doc_id, ${hash60Duck("g")} AS h FROM (
            SELECT doc_id,
                   unnest(list_transform(range(0, len(t) - ${SpanTokens - 1}),
                                         i -> $gram)) AS g
            FROM toks)
        )"""
  }

  def spanOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val wins = spanWindows(spark, sfDir)
    val kept = wins
      .withColumn("w_n", count(lit(1)).over(Window.partitionBy("h")))
      .filter(col("w_n") <= MaxDocsPerWindow)
      .drop("w_n")
    kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinSharedWindows)
      .orderBy("ia", "ib")
  }

  private val spanOverlapSql = {
    s"""WITH $spanWindowsCtes, kept AS (
          SELECT doc_id, h FROM (
            SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS w_n FROM wins)
          WHERE w_n <= $MaxDocsPerWindow
        )
        SELECT a.doc_id AS ia, b.doc_id AS ib, COUNT(*) AS n_shared
        FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= $MinSharedWindows
        ORDER BY 1, 2"""
  }

  /** `text_ngram_novelty`: per-document novelty — the fraction of a doc's
    * distinct token-8-grams that occur in NO other document (df = 1 across
    * the corpus). The memorization-risk / boilerplate dial: novelty 0 means
    * every span of the doc exists elsewhere (a pure copy — nothing new to
    * learn, high memorization pressure), novelty 1 means fully original
    * text. The complement of [[spanOverlap]]'s pair view, on the SAME
    * memoized gram table.
    *
    * Shape: ONE h-exchange serves both the df computation and the
    * pass-through (window count over the gram-hash partitioning — no
    * second shuffle for a df join), then one doc_id aggregate. Docs with
    * fewer than [[SpanTokens]] tokens have no 8-grams and are absent by
    * definition. Exact BIGINT counts; novelty is ONE double division of
    * two exact integers — hash-stable cross-engine.
    */
  def ngramNovelty(spark: SparkSession, sfDir: String): DataFrame =
    spanWindows(spark, sfDir)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", col("n_novel").cast("double") / col("n_grams"))
      .orderBy("doc_id")

  private val ngramNoveltySql =
    s"""WITH $spanWindowsCtes, wdf AS (
          SELECT doc_id, COUNT(*) OVER (PARTITION BY h) AS df FROM wins
        )
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
                 AS novelty
        FROM wdf GROUP BY doc_id ORDER BY doc_id"""

  /** Online near-dup probe for streaming ingest: an arriving `batch`
    * (doc_id, text — doc_ids unseen by the index) against sfDir's persisted
    * corpus band index (the same one [[incrementalDedup]] builds: docs with
    * doc_id % 10 != 0). Unlike incrementalDedup — whose probe side is a
    * filter of the memoized all-docs band table — the batch here is
    * genuinely new data, so its signatures are computed fresh; per-batch
    * cost ∝ batch size and the corpus is touched only through the bucketed
    * index plus the token join on surviving candidates. Unordered (a sink
    * writer needs no sort).
    */
  def probeBatch(spark: SparkSession, sfDir: String, batch: DataFrame): DataFrame = {
    val g = batch.select(col("doc_id"),
      expr(s"array_sort(hash60_array($tokenSet))").as("g"))
    val bands = bandsOf(minhashSigs(g))
    val all = docTokens(spark, sfDir)
    val corpus = all.filter(col("doc_id") % 10 =!= 0)
    val corpusBands = lshBands(spark, s"$sfDir#dedup#minhash_unigram", all)
      .filter(col("doc_id") % 10 =!= 0)
    val index = bandIndex(spark, sfDir, corpusBands)
    val cand = bands.as("x").join(index.as("y"), Seq("band", "band_key"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(g.select(col("doc_id").as("new_id"), col("g").as("ga")), "new_id")
      .join(corpus.select(col("doc_id").as("corpus_id"), col("g").as("gb")), "corpus_id")
      .withColumn("jaccard", expr("jaccard_sorted(ga, gb)"))
      .filter(col("jaccard") >= 0.9)
      .select("new_id", "corpus_id", "jaccard")
  }

  def incrementalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val all = docTokens(spark, sfDir) // memoized scan, shared with the LSH queries
    // bands are per-doc deterministic, so corpus and batch bands are FILTERS
    // of the memoized unigram band table (shared with dedup_minhash_lsh) —
    // no second signature computation anywhere in this query
    val allBands = lshBands(spark, s"$sfDir#dedup#minhash_unigram", all)
    val corpus = all.filter(col("doc_id") % 10 =!= 0)
    val corpusBands = allBands.filter(col("doc_id") % 10 =!= 0)
    val newDocs = all.filter(col("doc_id") % 10 === 0)
    val index = bandIndex(spark, sfDir, corpusBands)
    // the "online" probe: new docs' bands join the index in place
    val cand = allBands.filter(col("doc_id") % 10 === 0)
      .as("x").join(index.as("y"), Seq("band", "band_key"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    cand
      .join(newDocs.select(col("doc_id").as("new_id"), col("g").as("ga")), "new_id")
      .join(corpus.select(col("doc_id").as("corpus_id"), col("g").as("gb")), "corpus_id")
      .withColumn("jaccard", expr("jaccard_sorted(ga, gb)"))
      .filter(col("jaccard") >= 0.9)
      .select("new_id", "corpus_id", "jaccard")
      .orderBy("new_id", "corpus_id")
  }

  private val incrementalDedupSql =
    s"""WITH d AS (SELECT doc_id, list_sort($tokenHashesDuck) AS g FROM documents),
          s AS (SELECT doc_id, ${minhashSigDuckOf("g")} AS sig FROM d),
          bands AS (
            SELECT doc_id, b AS band,
                   ${hash60Duck(s"array_to_string(sig[b * $RowsPerBand + 1 : (b + 1) * $RowsPerBand], '-')")}
                     AS band_key
            FROM s, (SELECT unnest(range(0, $Bands)) AS b)
          ), cand AS (
            SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS corpus_id
            FROM bands x JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
            WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0
          )
          SELECT c.new_id, c.corpus_id,
                 CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                   / len(list_distinct(a.g || b.g)) AS jaccard
          FROM cand c JOIN d a ON c.new_id = a.doc_id JOIN d b ON c.corpus_id = b.doc_id
          WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / len(list_distinct(a.g || b.g)) >= 0.9
          ORDER BY c.new_id, c.corpus_id"""

  // ---- near-dup group resolution (pairs → connected components) ----

  /** Connected components over an undirected pair set `(ia, ib)`, two-phase:
    *
    * Phase 1 — CONTRACTION. One shuffle over the raw edges labels every node
    * `min(id, min neighbor)`; the iteration then runs on the LABEL graph
    * (an edge (la, lb) per original edge whose endpoints got different
    * labels). On a near-dup corpus the raw graph is dense cliques — the
    * label graph is smaller than the node graph by roughly the mean cluster
    * size, so every subsequent round joins a table orders of magnitude
    * smaller than the pair set. (Contraction preserves components, and the
    * global min m of a component always labels itself: lbl(m) = m.)
    *
    * Phase 2 — minimum label per contracted component, two interchangeable
    * implementations selected by the MEASURED contracted-edge count (the
    * materialized edge parquet's row count — one metadata-cheap job):
    *
    *  - `<= driverMaxEdges` (the common case by a huge margin — contraction
    *    collapses clique-shaped dup graphs to cluster grain, e.g. the sf0.1
    *    doc corpus's 1.2M pairs contract to 3.6k edges): driver-altitude
    *    union-find with path compression and min-id roots, the same
    *    driver-altitude discipline as the PQ/IVF Lloyd trainers — collect
    *    is bounded by the threshold (two longs per edge), the result is the
    *    exact component minimum (no approximation to prove), and the
    *    iterative scheduling cost (r19 probe: 4 rounds ≈ 2.4 s of pure
    *    round-trip overhead on the 3.6k-edge fixture graph) disappears.
    *  - past the bound (planet-scale contracted graphs): iterative
    *    min-label propagation with pointer jumping, unchanged — each round
    *    a node's label becomes the min of its own label, its neighbors'
    *    labels, AND its label's label (the pointer-jumping term turns
    *    O(diameter) convergence into ~O(log diameter)); each round is two
    *    equi-joins + one min-aggregate on the small label table,
    *    materialized to scratch parquet so lineage stays flat. Convergence
    *    is checked exactly and asserted within `maxIters`.
    *
    * Both produce the identical (id, min-of-component) fixpoint —
    * DedupSemanticsSpec pins them against each other and against an
    * independent union-find on random graphs.
    *
    * Returns (id, lbl): every node that appears in a pair, labeled by the
    * min doc_id of its component (composition: node → phase-1 label → that
    * label's phase-2 component min).
    */
  def components(pairsIn: DataFrame, maxIters: Int = 30,
                 driverMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
    val pa = pairsIn.columns(0)
    val pb = pairsIn.columns(1)
    // lazy symmetric view of the (memoized-parquet) pair scans: consumed by
    // exactly two jobs below, cheaper to re-scan than to re-materialize 2M
    // rows that phase 1 immediately collapses
    val undirected = pairsIn.select(col(pa).as("a"), col(pb).as("b"))
      .union(pairsIn.select(col(pb).as("a"), col(pa).as("b")))
    val base = Scratch.materialize(
      undirected.groupBy(col("a").as("id")).agg(min("b").as("mb"))
        .select(col("id"), least(col("id"), col("mb")).as("lbl")),
      "graft_cc_base")
    // the contracted graph: already symmetric because `undirected` is
    val edges = Scratch.materialize(
      undirected
        .join(base.select(col("id").as("a"), col("lbl").as("la")), "a")
        .join(base.select(col("id").as("b"), col("lbl").as("lb")), "b")
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("a"), col("lb").as("b"))
        .distinct(),
      "graft_cc_edges")
    // phase-2 dispatch on the MEASURED contracted size: the edge table is
    // already materialized, so the count is one metadata-cheap job
    // the driver path's label relation is bounded by the threshold, so it is
    // explicitly broadcast (map-only compose); the loop path's can be
    // arbitrarily large and keeps the planner's choice
    val labels =
      if (edges.count() <= driverMaxEdges) broadcast(driverMinLabels(edges))
      else loopMinLabels(edges, maxIters)
    // compose: node → phase-1 label → its contracted component's min. A
    // phase-1 label absent from the contracted graph (its whole cluster
    // collapsed onto it) is already the component min — coalesce keeps it.
    base.as("n").join(labels.as("r"), col("n.lbl") === col("r.id"), "left")
      .select(col("n.id").as("id"), coalesce(col("r.lbl"), col("n.lbl")).as("lbl"))
  }

  /** Phase-2 fast path: exact min-label per component of the (bounded)
    * contracted graph, computed by union-find at the driver — path-compressed
    * `find`, min-id roots (uniting two roots parents the larger under the
    * smaller), so `find(x)` IS the component minimum at the end. Returns the
    * same (id, lbl) relation the iterative loop converges to, for every node
    * of the contracted edge set.
    */
  private def driverMinLabels(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      // path compression: repoint the walked chain at the root
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    val collected = edges.collect()
    collected.foreach { row =>
      val a = row.getAs[Number](0).longValue()
      val b = row.getAs[Number](1).longValue()
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val idT = edges.schema.fields(0).dataType
    val out = new java.util.ArrayList[org.apache.spark.sql.Row](collected.length)
    val seen = new java.util.HashSet[Long]()
    collected.foreach { row =>
      Seq(row.getAs[Number](0).longValue(), row.getAs[Number](1).longValue())
        .foreach { id => if (seen.add(id)) out.add(org.apache.spark.sql.Row(id, find(id))) }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lbl", org.apache.spark.sql.types.LongType, nullable = false)))
    // cast back to the caller's id type so the compose join and the output
    // schema are identical to the loop path's
    spark.createDataFrame(out, schema)
      .select(col("id").cast(idT).as("id"), col("lbl").cast(idT).as("lbl"))
  }

  /** Phase-2 distributed path (contracted graphs past the driver bound):
    * iterative min-label propagation with pointer jumping; see
    * [[components]].
    */
  private def loopMinLabels(edges: DataFrame, maxIters: Int): DataFrame = {
    // convergence probe: labels only ever DECREASE, so the label sum
    // strictly decreases until (and exactly until) the fixpoint. r19: the
    // sum rides the materialize write itself via observe() — ONE job per
    // round instead of write + a separate aggregate job (the metric is the
    // identical SUM over the identical written rows; an empty frame yields
    // the same null the retired agg/head returned).
    def materializeWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val out = Scratch.materialize(
        df.observe(obs, sum(col("lbl").cast("decimal(38,0)")).as("s")),
        "graft_cc_labels")
      (out, obs.get("s").asInstanceOf[java.math.BigDecimal])
    }
    // round 0 folded into the init: lbl = min(id, min direct neighbor)
    var (labels, prev) = materializeWithSum(
      edges.groupBy(col("a").as("id")).agg(min("b").as("mb"))
        .select(col("id"), least(col("id"), col("mb")).as("lbl")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val nbr = edges.join(labels, edges("b") === labels("id"))
        .select(edges("a").as("id"), col("lbl"))
      val jump = labels.as("l1").join(labels.as("l2"), col("l1.lbl") === col("l2.id"))
        .select(col("l1.id").as("id"), col("l2.lbl").as("lbl"))
      val (next, s) = materializeWithSum(
        labels.union(nbr).union(jump).groupBy("id").agg(min("lbl").as("lbl")))
      converged = (prev eq null, s eq null) match {
        case (true, true) => true // empty pair set: nothing to propagate
        case (false, false) => prev.compareTo(s) == 0
        case _ => false
      }
      prev = s
      labels = next
      it += 1
    }
    require(converged, s"connected components did not converge within $maxIters rounds")
    labels
  }

  /** Contracted-edge bound for the driver union-find path of [[components]]:
    * 4M edges = two longs each = ~64 MB collected (well under the guide's
    * broadcast-plan comfort zone), disjoint-set state ∝ distinct nodes ≤ 2×
    * that. Contraction shrinks clique-shaped dup graphs by the mean cluster
    * size, so this covers corpora far past the fixture scale; a contracted
    * graph that still exceeds it runs the distributed fixpoint unchanged.
    */
  val DriverCcMaxEdges = 4000000L

  /** (doc_id, lbl): every paired document labeled by its near-dup connected
    * component — the shared cluster table behind `dedup_components` and
    * `dedup_canonical`, memoized so the iterative label propagation runs
    * ONCE per corpus however many consumers ask (the memoized pair tables
    * feed it the same way: materialize once, consume everywhere).
    */
  private def componentLabels(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.memoize(spark, s"$sfDir#dedup#cc_labels") {
      val pairs = minhashPairs(spark, sfDir).select("ia", "ib")
        .union(simhashPairs(spark, sfDir).select("ia", "ib"))
      components(pairs).select(col("id").as("doc_id"), col("lbl"))
    }

  /** `dedup_cluster_histogram`: the shape-of-duplication audit — how many
    * near-dup clusters exist at each size, plus the singleton row (docs in
    * no pair at all). The curator's first look at a new crawl: a fat tail
    * of large clusters means template spam; mass at size 2 means mirrors;
    * the singleton share is the effective-corpus estimate dedup will
    * deliver. Consumes the MEMOIZED component labels (computed once per
    * run with `dedup_components`/`dedup_canonical`); everything after is
    * cluster-grain then size-grain — two tiny aggregates.
    */
  def clusterHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val sizes = componentLabels(spark, sfDir)
      .groupBy("lbl").agg(count(lit(1)).as("sz"))
    val hist = sizes.groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum("sz").as("n_docs"))
    val totals = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(
        componentLabels(spark, sfDir).agg(count(lit(1)).as("n_labeled"))))
    val singles = totals
      .select(lit(1L).as("cluster_size"),
        (col("n_total") - col("n_labeled")).as("n_clusters"),
        (col("n_total") - col("n_labeled")).as("n_docs"))
      .filter(col("n_clusters") > 0)
    hist.unionByName(singles).orderBy("cluster_size")
  }

  private val clusterHistogramSql =
    s"""WITH pairs AS (
          SELECT ia, ib FROM ($minhashLshSql)
          UNION
          SELECT ia, ib FROM ($simhashDedupSql)
        ), edges AS (
          SELECT ia AS a, ib AS b FROM pairs
          UNION
          SELECT ib, ia FROM pairs
        ), $ccLabelCtesDuck, lbl AS (
          SELECT id AS doc_id, l AS canon FROM $ccLabelFinal
        ), sizes AS (
          SELECT canon, CAST(COUNT(*) AS BIGINT) AS sz FROM lbl GROUP BY canon
        ), hist AS (
          SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
                 CAST(SUM(sz) AS BIGINT) AS n_docs
          FROM sizes GROUP BY sz
        ), singles AS (
          SELECT CAST(1 AS BIGINT) AS cluster_size,
                 (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lbl)
                   AS n_clusters,
                 (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM lbl)
                   AS n_docs
        )
        SELECT * FROM hist
        UNION ALL
        SELECT * FROM singles WHERE n_clusters > 0
        ORDER BY cluster_size"""

  /** `dedup_components`: the end-to-end corpus dedup the pair queries feed —
    * connected components over the UNION of the MinHash-LSH and SimHash
    * near-dup pairs, resolved to one canonical survivor (min doc_id) per
    * component, emitted for EVERY document in the `dedup_exact` row shape:
    * (doc_id, canonical_id, group_size, is_duplicate). Dropping
    * `is_duplicate` rows is the actual dedup a training pipeline runs.
    */
  def componentsDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = componentLabels(spark, sfDir)
    val w = Window.partitionBy("canonical_id")
    Tables.documents(spark, sfDir).select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("canonical_id", coalesce(col("lbl"), col("doc_id")))
      .drop("lbl")
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_duplicate", col("doc_id") =!= col("canonical_id"))
      .orderBy("doc_id")
  }

  /** DuckDB twin: bounded-iteration label propagation over the same pair
    * union ([[ccLabelCtesDuck]]); a node's canonical id is its component
    * min (or itself).
    */
  private val componentsDedupSql =
    s"""WITH pairs AS (
          SELECT ia, ib FROM ($minhashLshSql)
          UNION
          SELECT ia, ib FROM ($simhashDedupSql)
        ), edges AS (
          SELECT ia AS a, ib AS b FROM pairs
          UNION
          SELECT ib, ia FROM pairs
        ), $ccLabelCtesDuck, lbl AS (
          SELECT id AS doc_id, l AS canon FROM $ccLabelFinal
        )
        SELECT d.doc_id,
               COALESCE(l.canon, d.doc_id) AS canonical_id,
               COUNT(*) OVER (PARTITION BY COALESCE(l.canon, d.doc_id)) AS group_size,
               d.doc_id <> COALESCE(l.canon, d.doc_id) AS is_duplicate
        FROM documents d LEFT JOIN lbl l ON d.doc_id = l.doc_id
        ORDER BY d.doc_id"""

  /** `dedup_canonical`: quality-aware survivor selection — the step after
    * clustering that `dedup_components`' min-id canonical deliberately
    * skips. Per near-dup cluster, KEEP the highest-quality document (the
    * `text_quality_score` composite, ties to the lowest doc_id) and mark
    * the rest for drop: detect → cluster → select, the full dedup decision
    * a training pipeline actually ships.
    *
    * Shape: the memoized cluster labels join ([[componentLabels]], computed
    * once per corpus) + the map-only quality pass, then ONE shuffle on
    * `cluster_id` serving both windows (size count and argmax row_number
    * share the partitioning; Spark plans one Exchange, two Window passes
    * over the same sort run). Quality-less documents (token-free text)
    * coalesce to −1 so they can only survive as singletons — mirrored in
    * the oracle, so the double-ordered argmax is bit-deterministic in both
    * engines.
    *
    * At 100 TB: cluster cardinality ≈ corpus cardinality (most docs are
    * singletons), so the window shuffle is the same scale as the exact-dedup
    * groupBy; state per cluster is O(1) (running count + current best).
    */
  def canonicalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = componentLabels(spark, sfDir)
    val quality = TextAnalysis.qualityScoreOf(Tables.documents(spark, sfDir))
      .select("doc_id", "quality_score")
    val w = Window.partitionBy("cluster_id")
    val pick = w.orderBy(col("quality_score").desc, col("doc_id"))
    Tables.documents(spark, sfDir).select("doc_id")
      .join(labels, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("lbl"), col("doc_id")))
      .drop("lbl")
      .join(quality, Seq("doc_id"), "left")
      .withColumn("quality_score", coalesce(col("quality_score"), lit(-1.0)))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("keep", row_number().over(pick) === 1)
      .orderBy("doc_id")
  }

  /** DuckDB twin: the `dedup_components` closure labels + the
    * `text_quality_score` composite, argmax per cluster by (quality DESC,
    * doc_id).
    */
  private val canonicalDedupSql =
    s"""WITH pairs AS (
          SELECT ia, ib FROM ($minhashLshSql)
          UNION
          SELECT ia, ib FROM ($simhashDedupSql)
        ), edges AS (
          SELECT ia AS a, ib AS b FROM pairs
          UNION
          SELECT ib, ia FROM pairs
        ), $ccLabelCtesDuck, lbl AS (
          SELECT id AS doc_id, l AS canon FROM $ccLabelFinal
        ), q AS (
          SELECT doc_id, quality_score FROM (${TextAnalysis.qualityScoreSql})
        ), base AS (
          SELECT d.doc_id,
                 COALESCE(l.canon, d.doc_id) AS cluster_id,
                 COALESCE(q.quality_score, -1.0) AS quality_score
          FROM documents d
          LEFT JOIN lbl l ON d.doc_id = l.doc_id
          LEFT JOIN q ON d.doc_id = q.doc_id
        )
        SELECT doc_id, cluster_id, quality_score,
               COUNT(*) OVER (PARTITION BY cluster_id) AS group_size,
               ROW_NUMBER() OVER (PARTITION BY cluster_id
                                  ORDER BY quality_score DESC, doc_id) = 1 AS keep
        FROM base ORDER BY doc_id"""

  // ---- sparse-cosine near-dup (postings self-join) ----

  /** Char-shingle window / stride for the sparse-cosine universe — the
    * fingerprint geometry (`text_fingerprint`), reused so the two
    * shingle-grain operators agree on what a "feature" is.
    */
  val CosShingleChars = 8
  val CosStride = 4

  /** Cosine threshold for [[sparseCosineDedup]] (the fixture separates
    * cleanly: planted near-dups score ≥ 0.9, everything else < 0.5).
    */
  val CosThreshold = 0.9

  /** Floor of the sparse-cosine df cap: terms in more than
    * `max(CosDfCapFloor, ⌈√N⌉)` docs are dropped from the score. A √N cap
    * bounds the exact postings self-join's Σ_term df² fan-out by N·√N BY
    * DESIGN (each surviving term contributes ≤ N pairs, and there are at
    * most N·√N surviving postings), where the previous `df ≤ N/2`
    * near-stopword rule only bounded the constant and left the quadratic
    * term to fixture luck. The floor keeps tiny corpora (tests, sf0.001)
    * from dropping every shared term. Both engines compute the cap from the
    * same IEEE-double `ceil(sqrt(N))`, so the filtered universe — and thus
    * every downstream score — is identical bit-for-bit.
    */
  val CosDfCapFloor = 16L

  /** The absolute df cap for a corpus of `nDocs` — see [[CosDfCapFloor]]. */
  def cosDfCap(nDocs: Long): Long =
    math.max(CosDfCapFloor, math.ceil(math.sqrt(nDocs.toDouble)).toLong)

  /** [[cosDfCap]] as a Column over the scalar-subquery corpus count — the
    * cap stays inside the plan (no driver collect), and both engines
    * evaluate the identical IEEE-double `ceil(sqrt(N))`.
    */
  private def cosDfCapCol(nDocs: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    greatest(lit(CosDfCapFloor), ceil(sqrt(nDocs.cast("double"))).cast("long"))

  /** (doc_id, h, tf): hashed-shingle term frequencies, memoized — the
    * postings table. Consumed three times (df filter, norms, both sides of
    * the dot-product self-join), computed once. Shingles ship as 60-bit
    * BIGINT hashes: 8-byte join/shuffle keys, same hash in the oracle.
    */
  private[graft] def shinglePostings(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.memoize(spark, s"$sfDir#dedup#cos_postings#$CosShingleChars#$CosStride") {
      Tables.documents(spark, sfDir)
        .filter(length(col("text")) >= CosShingleChars)
        .select(col("doc_id"),
          explode(expr(
            s"sequence(1, length(text) - ${CosShingleChars - 1}, $CosStride)")).as("pos"),
          col("text"))
        .select(col("doc_id"),
          expr(hash60(s"substring(text, pos, $CosShingleChars)")).as("h"))
        .groupBy("doc_id", "h")
        .agg(count(lit(1)).as("tf"))
    }

  /** `dedup_cosine_sparse`: EXACT sparse-vector cosine near-dup pairs via
    * an inverted-postings self-join — the third leg of the similarity
    * triptych: set overlap (`dedup_minhash_lsh`, Jaccard), SPARSE vectors
    * (this — term-frequency cosine), dense vectors (`dedup_embedding` /
    * the ANN family). No sketch, no recall loss: the integer dot product
    * `Σ tf_a·tf_b` is an exact associative sum under ANY partitioning, so
    * unlike a double-weighted (tf·idf) dot — whose `ln` is not bit-stable
    * across engines and whose addition order matters — the score is
    * hash-reproducible: one double division against exactly-rounded
    * sqrt norms per surviving pair.
    *
    * Scale: the postings self-join's fan-out is Σ_term df² — the absolute
    * df cap ([[cosDfCap]]: terms in more than ~√N docs are dropped from the
    * score) bounds that sum by N·√N by construction, not by fixture luck,
    * and the memoized postings table pays the corpus scan once. The
    * candidate shuffle is (h: bigint)-keyed; the (ia, ib) re-aggregation is
    * the one unavoidable pair-grain shuffle. At larger candidate volumes
    * the standard prefix-filter refinement composes on top. Even so, N·√N
    * exact pairing is the ORACLE-BASELINE leg — [[sparseCosineLsh]] is the
    * declared 100 TB path.
    */
  /** Df-capped postings (doc_id, h, tf), memoized: the shared verify-side
    * relation of BOTH cosine queries. The corpus count, the per-term df
    * aggregate, and the cap semi-join are identical in `dedup_cosine_sparse`
    * and `dedup_cosine_lsh` — r19 guide §1.2: one stage computed once; the
    * second consumer scans the memo instead of re-running a corpus-postings
    * df pass per invocation.
    */
  private def keptPostings(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.memoize(spark, s"$sfDir#dedup#cos_kept#$CosShingleChars#$CosStride") {
      val p0 = shinglePostings(spark, sfDir)
      val nDocs = p0.select(col("doc_id")).distinct().agg(count(lit(1))).scalar()
      val keep = p0.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= cosDfCapCol(nDocs)).select("h")
      p0.join(keep, "h") // vocab-sized side broadcasts at any realistic ratio
    }

  def sparseCosineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val p = keptPostings(spark, sfDir)
    val norms = p.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("nn"))
    val dots = p.select(col("doc_id").as("ia"), col("h"), col("tf").as("tfa"))
      .join(p.select(col("doc_id").as("ib"), col("h"), col("tf").as("tfb")), "h")
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib")
      .agg(sum(col("tfa") * col("tfb")).as("d"))
    dots
      .join(norms.select(col("doc_id").as("ia"), col("nn").as("na")), "ia")
      .join(norms.select(col("doc_id").as("ib"), col("nn").as("nb")), "ib")
      .withColumn("cosine",
        col("d").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= CosThreshold)
      .select("ia", "ib", "cosine")
      .orderBy("ia", "ib")
  }

  private val sparseCosineDedupSql =
    s"""WITH w AS (
          SELECT doc_id,
                 ${hash60Duck(s"substring(text, pos, $CosShingleChars)")} AS h
          FROM (SELECT doc_id, text,
                       unnest(range(1, length(text) - ${CosShingleChars - 2}, $CosStride)) AS pos
                FROM documents WHERE length(text) >= $CosShingleChars)
        ), tf AS (
          SELECT doc_id, h, COUNT(*) AS tf FROM w GROUP BY 1, 2
        ), stats AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
        keep AS (
          SELECT h FROM (SELECT h, COUNT(*) AS df FROM tf GROUP BY 1), stats
          WHERE df <= GREATEST($CosDfCapFloor, CAST(CEIL(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT))
        ), p AS (
          SELECT t.doc_id, t.h, t.tf FROM tf t JOIN keep USING (h)
        ), n2 AS (
          SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nn FROM p GROUP BY 1
        ), dots AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, CAST(SUM(a.tf * b.tf) AS BIGINT) AS d
          FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT ia, ib,
               CAST(d AS DOUBLE)
                 / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cosine
        FROM dots JOIN n2 na ON na.doc_id = ia JOIN n2 nb ON nb.doc_id = ib
        WHERE CAST(d AS DOUBLE)
                / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= $CosThreshold
        ORDER BY ia, ib"""

  /** (doc_id, g): sorted DISTINCT shingle-hash sets — the banding universe
    * for [[sparseCosineLsh]], memoized (the band memo consumes it twice).
    */
  private def shingleSets(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.memoize(spark, s"$sfDir#dedup#cos_sets#$CosShingleChars#$CosStride") {
      shinglePostings(spark, sfDir)
        .groupBy("doc_id")
        .agg(expr("array_sort(collect_list(h))").as("g"))
    }

  /** `dedup_cosine_lsh`: [[sparseCosineDedup]]'s SCALE path — the same
    * exact integer-dot cosine verification, but only over MinHash-band
    * candidate pairs instead of the full postings self-join. The exact
    * form's cost is Σ_term df² (N·√N-bounded via [[cosDfCap]], still
    * superlinear); here the quadratic step happens only inside colliding band
    * buckets ([[MaxBucket]]-guarded), and the verify joins the postings of
    * the candidate pairs alone. Keep both: the exact query is the
    * oracle-baseline (the `profile_orders` / `profile_orders_kmv`
    * precedent), this is what runs at 100 TB.
    *
    * Candidates are the standard LSH trade: a τ ≥ [[CosThreshold]] pair
    * missing every band is possible in principle; on the fixture the
    * candidate set covers the exact pair list in full (spec'd at sf0.001
    * against [[sparseCosineDedup]]).
    */
  def sparseCosineLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val p = keptPostings(spark, sfDir)
    val norms = p.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("nn"))
    val cand = lshCandidatePairs(spark,
      s"$sfDir#dedup#cos_shingle$CosShingleChars", shingleSets(spark, sfDir))
    val dots = cand
      .join(p.select(col("doc_id").as("ia"), col("h"), col("tf").as("tfa")), "ia")
      .join(p.select(col("doc_id").as("ib"), col("h"), col("tf").as("tfb")), Seq("ib", "h"))
      .groupBy("ia", "ib")
      .agg(sum(col("tfa") * col("tfb")).as("d"))
    dots
      .join(norms.select(col("doc_id").as("ia"), col("nn").as("na")), "ia")
      .join(norms.select(col("doc_id").as("ib"), col("nn").as("nb")), "ib")
      .withColumn("cosine",
        col("d").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= CosThreshold)
      .select("ia", "ib", "cosine")
      .orderBy("ia", "ib")
  }

  private val sparseCosineLshSql =
    s"""WITH w AS (
          SELECT doc_id,
                 ${hash60Duck(s"substring(text, pos, $CosShingleChars)")} AS h
          FROM (SELECT doc_id, text,
                       unnest(range(1, length(text) - ${CosShingleChars - 2}, $CosStride)) AS pos
                FROM documents WHERE length(text) >= $CosShingleChars)
        ), tf AS (
          SELECT doc_id, h, COUNT(*) AS tf FROM w GROUP BY 1, 2
        ), stats AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
        keep AS (
          SELECT h FROM (SELECT h, COUNT(*) AS df FROM tf GROUP BY 1), stats
          WHERE df <= GREATEST($CosDfCapFloor, CAST(CEIL(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT))
        ), p AS (
          SELECT t.doc_id, t.h, t.tf FROM tf t JOIN keep USING (h)
        ), n2 AS (
          SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nn FROM p GROUP BY 1
        ), ${lshCandCtesDuck(
          "d AS (SELECT doc_id, list_sort(list(h)) AS g FROM tf GROUP BY doc_id)")},
        dots AS (
          SELECT c.ia, c.ib, CAST(SUM(a.tf * b.tf) AS BIGINT) AS d
          FROM cand c
          JOIN p a ON a.doc_id = c.ia
          JOIN p b ON b.doc_id = c.ib AND b.h = a.h
          GROUP BY 1, 2
        )
        SELECT ia, ib,
               CAST(d AS DOUBLE)
                 / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cosine
        FROM dots JOIN n2 na ON na.doc_id = ia JOIN n2 nb ON nb.doc_id = ib
        WHERE CAST(d AS DOUBLE)
                / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) >= $CosThreshold
        ORDER BY ia, ib"""

  /** EXACT τ≥0.9 Jaccard pair set by PREFIX FILTERING (the PPJoin family,
    * Chaudhuri/Xiao et al.) — the ground-truth twin of the MinHash LSH
    * path, with FULL recall by theorem instead of by probability: order
    * every document's token set by a GLOBAL order (document frequency
    * ascending, ties by hash — the canonical PPJoin order, so prefixes are
    * made of RARE tokens and candidate postings stay thin), take each
    * doc's first `|g| - ⌈τ|g|⌉ + 1` tokens as its prefix, and join docs
    * sharing a prefix token. Any pair with J ≥ τ shares ≥ ⌈τ|g|⌉ tokens,
    * which cannot all fit outside a prefix that size — so the candidate
    * set PROVABLY contains every qualifying pair, and the exact
    * `jaccard_sorted` verify only removes false candidates. The prefix
    * length is pure integer arithmetic (`⌈9n/10⌉ = (9n+9) div 10`) so both
    * engines cut identical prefixes.
    *
    * Scale: prefix volume ≈ 10% of token volume; because the order is
    * df-ascending, a token's posting in the prefix index is a SUBSET of
    * its corpus posting skewed toward rare tokens — the candidate join is
    * Σ df_prefix². The r16 sf10 probe measured that sum SUPERLINEAR as
    * the df head thickens (wall exponent 1.28 vs answer 1.12), so the
    * operator carries an opt-in df-cap — [[PrefixMaxDf]] — for corpora
    * past the exact path's comfort zone.
    */
  private[pipeline] def prefixJaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.memoize(spark, s"$sfDir#dedup#prefix_jaccard#0.9#df${prefixMaxDf(spark)}") {
      prefixJaccardPairsBuild(spark, sfDir)
    }

  /** The documented escape hatch for the exact path's measured quadratic
    * tail: with the `graft.dedup.prefix.maxDf` conf set to a positive
    * N, prefix tokens whose PREFIX posting exceeds N — exactly
    * the df² head that drives the superlinear growth — leave the
    * pairwise candidate join, and the banded-LSH candidate path covers
    * their pairs instead, through the SAME exact-Jaccard verify. Recall
    * for pairs whose shared prefix tokens are ALL over-cap becomes the
    * measured `dedup_lsh_recall` number instead of 1-by-theorem; every
    * emitted pair is still exactly verified (precision 1 always). Unset
    * (the default everywhere, including the oracle gate), the cap is off
    * and the full PPJoin recall theorem applies.
    */
  private def prefixMaxDf(spark: SparkSession): Long =
    spark.conf.getOption("graft.dedup.prefix.maxDf")
      .map(_.toLong).getOrElse(0L) // <= 0: cap off

  /** The un-memoized ground-truth build — exposed so PlanAssertionsSpec can
    * pin the candidate join's shape (equi-join on the prefix token with the
    * PPJoin length/positional filters as residual conditions, never a
    * cartesian).
    */
  private[graft] def prefixJaccardPairsBuild(spark: SparkSession, sfDir: String): DataFrame = {
      val docs = docTokens(spark, sfDir)
      val rows = tokenHashRows(docs)
      val dfs = rows.groupBy("h").agg(count(lit(1)).as("df"))
      // (doc_id, len = |g|, pos = 0-based rank of t in the global df-asc
      // order, t): the position and set size feed the two classic PPJoin
      // refinements below
      val allPrefixes = Scratch.materialize(
        rows.join(dfs, "h")
          .groupBy("doc_id")
          .agg(expr("array_sort(collect_list(struct(df, h)))").as("o"))
          .select(col("doc_id"), expr("size(o)").as("len"),
            posexplode(expr(
              "transform(slice(o, 1, size(o) - (9 * size(o) + 9) div 10 + 1), x -> x.h)"))
              .as(Seq("pos", "t"))),
        "graft_prefix_tokens")
      // [[prefixMaxDf]]: drop the over-cap head from the PAIRWISE join
      // (its postings are the Σ df_prefix² quadratic term); the LSH
      // candidate union below covers the pairs those postings carried
      val maxDf = prefixMaxDf(spark)
      val prefixes =
        if (maxDf <= 0) allPrefixes
        else {
          val pdf = allPrefixes.groupBy("t").agg(count(lit(1)).as("pdf"))
          allPrefixes.join(pdf.filter(col("pdf") <= maxDf), "t")
            .select("doc_id", "len", "pos", "t")
        }
      // Candidate thinning beyond the shared-prefix-token condition — both
      // filters are implied by J >= 0.9, so neither can drop a true pair:
      //  - LENGTH: J = O/(la+lb-O) with O <= min(la,lb), so J >= t forces
      //    min >= t*max — in exact integers, 10*min >= 9*max.
      //  - POSITIONAL (PPJoin): a shared token at 0-based global-order
      //    positions (px, py) caps the overlap at
      //    min(px,py) + 1 + min(la-px-1, lb-py-1) (at most min(px,py)
      //    earlier tokens can match, at most min of the tails after);
      //    J >= t forces O >= ceil(t/(1+t)*(la+lb)) = (9*(la+lb)+18) div 19.
      //    The cap is an upper bound on the TRUE overlap, so a qualifying
      //    pair satisfies it on EVERY shared prefix token — filtering
      //    per candidate row (before distinct) is recall-safe.
      val cand = prefixes.as("x").join(prefixes.as("y"),
          col("x.t") === col("y.t") && col("x.doc_id") < col("y.doc_id")
            && expr("10 * least(x.len, y.len) >= 9 * greatest(x.len, y.len)")
            && expr("""least(x.pos, y.pos) + 1
                       + least(x.len - x.pos - 1, y.len - y.pos - 1)
                       >= (9 * (x.len + y.len) + 18) div 19"""))
        .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
        .distinct()
      // capped mode: the banded-LSH pairs (already ≥ τ by the same exact
      // verify, and memo-shared with dedup_minhash_lsh) stand in as
      // candidates for whatever the dropped head postings carried
      val candAll =
        if (maxDf <= 0) cand
        else cand.unionByName(minhashPairs(spark, sfDir).select("ia", "ib")).distinct()
      val ga = docs.select(col("doc_id").as("ia"), col("g").as("ga"))
      val gb = docs.select(col("doc_id").as("ib"), col("g").as("gb"))
      candAll.join(ga, "ia").join(gb, "ib")
        .withColumn("jaccard", expr("jaccard_sorted(ga, gb)"))
        .filter(col("jaccard") >= 0.9)
        .select("ia", "ib", "jaccard")
    }

  def prefixJaccardDedup(spark: SparkSession, sfDir: String): DataFrame =
    prefixJaccardPairs(spark, sfDir).orderBy("ia", "ib")

  /** Shared exact-pair CTE chain (DuckDB): requires `d(doc_id, g)`; ends
    * with `exact(ia, ib)`.
    */
  private val prefixExactCtesDuck =
    s"""rows AS (
          SELECT doc_id, unnest(g) AS h FROM d
        ), dfs AS (
          SELECT h, COUNT(*) AS df FROM rows GROUP BY h
        ), ord AS (
          SELECT r.doc_id,
                 list_sort(list({'df': f.df, 'h': r.h})) AS o
          FROM rows r JOIN dfs f ON r.h = f.h GROUP BY r.doc_id
        ), pfx AS (
          SELECT doc_id,
                 unnest(list_transform(
                   o[1 : len(o) - (9 * len(o) + 9) // 10 + 1], x -> x.h)) AS t
          FROM ord
        ), pcand AS (
          SELECT DISTINCT x.doc_id AS ia, y.doc_id AS ib
          FROM pfx x JOIN pfx y ON x.t = y.t AND x.doc_id < y.doc_id
        ), exact AS (
          SELECT c.ia, c.ib,
                 CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                   / len(list_distinct(a.g || b.g)) AS jaccard
          FROM pcand c JOIN d a ON c.ia = a.doc_id JOIN d b ON c.ib = b.doc_id
          WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / len(list_distinct(a.g || b.g)) >= 0.9
        )"""

  private val prefixJaccardSql =
    s"""WITH d AS (SELECT doc_id, list_sort($tokenHashesDuck) AS g FROM documents),
        $prefixExactCtesDuck
        SELECT ia, ib, jaccard FROM exact ORDER BY ia, ib"""

  /** `dedup_lsh_recall`: the MEASURED recall of the flagship MinHash-LSH
    * dedup against the prefix-filtered exact ground truth — the
    * "measure, don't guess" number for the probabilistic path (the
    * similarity family's `_recall` rows, applied to dedup). One row:
    * exact pairs, LSH pairs, their overlap, LSH-only extras (provably 0 —
    * LSH verifies with the same exact Jaccard, so its pairs are a subset),
    * and recall = common/exact. Exact integer counts; ONE division.
    */
  def lshRecallDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = prefixJaccardPairs(spark, sfDir).select("ia", "ib")
    val lsh = minhashPairs(spark, sfDir).select("ia", "ib")
    val common = exact.join(lsh, Seq("ia", "ib"), "left_semi")
    exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(common.agg(count(lit(1)).as("n_common")))
      .withColumn("n_lsh_extra", expr("n_lsh - n_common"))
      .withColumn("recall", expr(
        "CASE WHEN n_exact = 0 THEN NULL ELSE CAST(n_common AS DOUBLE) / n_exact END"))
  }

  private val lshRecallDedupSql =
    s"""WITH ${lshCandCtesDuck("d AS (SELECT doc_id, list_sort(" + tokenHashesDuck + ") AS g FROM documents)")},
        lsh AS (
          SELECT c.ia, c.ib
          FROM cand c JOIN d a ON c.ia = a.doc_id JOIN d b ON c.ib = b.doc_id
          WHERE CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
                  / len(list_distinct(a.g || b.g)) >= 0.9
        ), $prefixExactCtesDuck,
        common AS (
          SELECT ia, ib FROM exact INTERSECT SELECT ia, ib FROM lsh
        )
        SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
               (SELECT COUNT(*) FROM lsh) AS n_lsh,
               (SELECT COUNT(*) FROM common) AS n_common,
               (SELECT COUNT(*) FROM lsh) - (SELECT COUNT(*) FROM common)
                 AS n_lsh_extra,
               CASE WHEN (SELECT COUNT(*) FROM exact) = 0 THEN NULL
                    ELSE CAST((SELECT COUNT(*) FROM common) AS DOUBLE)
                         / (SELECT COUNT(*) FROM exact) END AS recall"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_prefix_exact" -> (prefixJaccardDedup _),
    "dedup_lsh_recall" -> (lshRecallDedup _),
    "dedup_exact" -> (exactDedup _),
    "dedup_ngram_jaccard" -> (jaccardDedup _),
    "dedup_minhash_lsh" -> (minhashLsh _),
    "dedup_simhash" -> (simhashDedup _),
    "dedup_embedding" -> (embeddingDedup _),
    "dedup_semantic" -> (semanticDedup _),
    "dedup_components" -> (componentsDedup _),
    "dedup_cluster_histogram" -> (clusterHistogram _),
    "dedup_canonical" -> (canonicalDedup _),
    "dedup_incremental" -> (incrementalDedup _),
    "dedup_span_overlap" -> (spanOverlap _),
    "text_ngram_novelty" -> (ngramNovelty _),
    "dedup_cosine_sparse" -> (sparseCosineDedup _),
    "dedup_cosine_lsh" -> (sparseCosineLsh _),
  )

  override def oracle: Map[String, String] = Map(
    "dedup_prefix_exact" -> prefixJaccardSql,
    "dedup_lsh_recall" -> lshRecallDedupSql,
    "dedup_exact" -> exactDedupSql,
    "dedup_ngram_jaccard" -> jaccardDedupSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_simhash" -> simhashDedupSql,
    "dedup_embedding" -> embeddingDedupSql,
    "dedup_semantic" -> semanticDedupSql,
    "dedup_components" -> componentsDedupSql,
    "dedup_cluster_histogram" -> clusterHistogramSql,
    "dedup_canonical" -> canonicalDedupSql,
    "dedup_incremental" -> incrementalDedupSql,
    "dedup_span_overlap" -> spanOverlapSql,
    "text_ngram_novelty" -> ngramNoveltySql,
    "dedup_cosine_sparse" -> sparseCosineDedupSql,
    "dedup_cosine_lsh" -> sparseCosineLshSql,
  )
}
