package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}

/** Corpus-level quality control for pre-training data: repetition filtering
  * (Gopher-style), benchmark-contamination detection, and temperature-scaled
  * language mixture weights. These sit between TextAnalysis (per-doc
  * features) and TrainPrep (split/pack): decide what to KEEP and at what
  * RATE before batching.
  *
  * Scale (100 TB): repetition is explode → two partial-agg'd reductions on
  * the same doc_id clustering; contamination is a broadcast join against the
  * (small) benchmark shingle set; mixture is a langs-sized aggregate. No
  * all-pairs, no driver loops, no unbounded state.
  */
object CorpusQc extends QueryModule {

  /** Gopher-style repetition thresholds: a doc is flagged when its most
    * frequent bigram covers > 20% of bigram slots, or > 30% of its 5-gram
    * slots are repeats (cf. Rae et al. 2021, table A1 — token-based here,
    * the char-based variant changes only the numerator).
    */
  val TopBigramMax = 0.20
  val DupFivegramMax = 0.30
  private val MinTokens = 5

  private def gramsDuck(n: Int): String = {
    val parts = (1 to n).map(k => s"t[i + $k]").mkString(" || ' ' || ")
    s"list_transform(range(0, len(t) - ${n - 1}), i -> $parts)"
  }

  /** `text_repetition`: per-doc repetition metrics + keep/drop flag.
    *
    * Grams come from ONE map-side explode of `arrays_zip(t, slice(t,2..5))`
    * — all codegen'd expressions, no higher-order lambdas (the transform()
    * form was measured 4× slower: interpreted per-element, and this is the
    * hottest per-token path in the suite). Both reductions then key on
    * doc_id, so the top-bigram second aggregate and the final join reuse
    * the first shuffle's clustering.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    repetitionOf(Tables.documents(spark, sfDir)).orderBy("doc_id")

  /** DataFrame core of [[repetition]] — per-doc, so a streaming micro-batch
    * can run it as-is ([[graft.streaming.CorpusIngest]]). Unordered.
    */
  def repetitionOf(docs: DataFrame): DataFrame = {
    def f(k: String) = col("z").getField(k)
    val g = docs
      .select(col("doc_id"), expr(Dedup.rawTokens).as("t"))
      .filter(expr(s"size(t) >= $MinTokens"))
      .select(col("doc_id"), expr("size(t)").cast("long").as("n_tokens"),
        explode(expr("""arrays_zip(t, slice(t, 2, size(t)), slice(t, 3, size(t)),
                                   slice(t, 4, size(t)), slice(t, 5, size(t)))""")).as("z"))
      .select(col("doc_id"), col("n_tokens"),
        when(f("1").isNotNull, concat_ws(" ", f("t"), f("1"))).as("bigram"),
        when(f("4").isNotNull,
          concat_ws(" ", f("t"), f("1"), f("2"), f("3"), f("4"))).as("fivegram"))
    val top = g.filter(col("bigram").isNotNull)
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(max("cnt").as("top_cnt"), sum("cnt").as("n_bigrams"))
    val five = g.groupBy("doc_id").agg(
      first("n_tokens").as("n_tokens"),
      count(col("fivegram")).as("n5"),
      countDistinct(col("fivegram")).as("d5"))
      .withColumn("dup_fivegram_fraction",
        lit(1.0) - col("d5").cast("double") / col("n5"))
    five.join(top, "doc_id")
      .withColumn("top_bigram_ratio",
        col("top_cnt").cast("double") / col("n_bigrams"))
      .withColumn("flagged",
        col("top_bigram_ratio") > TopBigramMax ||
          col("dup_fivegram_fraction") > DupFivegramMax)
      .select("doc_id", "n_tokens", "top_bigram_ratio",
        "dup_fivegram_fraction", "flagged")
  }

  private val repetitionSql =
    s"""WITH t AS (
          SELECT doc_id, ${Dedup.rawTokensDuck} AS t FROM documents
        ), base AS (
          SELECT doc_id, len(t) AS n_tokens, ${gramsDuck(2)} AS bg,
                 1.0 - CAST(len(list_distinct(${gramsDuck(5)})) AS DOUBLE)
                   / len(${gramsDuck(5)}) AS dup_fivegram_fraction
          FROM t WHERE len(t) >= $MinTokens
        ), cnt AS (
          SELECT doc_id, len(bg) AS n_bigrams, unnest(bg) AS gram FROM base
        ), per_gram AS (
          SELECT doc_id, n_bigrams, gram, COUNT(*) AS cnt
          FROM cnt GROUP BY 1, 2, 3
        ), top AS (
          SELECT doc_id, n_bigrams, MAX(cnt) AS top_cnt
          FROM per_gram GROUP BY 1, 2
        )
        SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
               CAST(top_cnt AS DOUBLE) / n_bigrams AS top_bigram_ratio,
               b.dup_fivegram_fraction,
               (CAST(top_cnt AS DOUBLE) / n_bigrams > $TopBigramMax
                OR b.dup_fivegram_fraction > $DupFivegramMax) AS flagged
        FROM base b JOIN top USING (doc_id)
        ORDER BY doc_id"""

  /** Every doc_id ≡ 0 (mod [[BenchMod]]) plays the held-out benchmark. */
  val BenchMod = 97

  /** Contamination flag threshold: ≥ half the doc's shingles appear in the
    * benchmark set.
    */
  val ContamThreshold = 0.5

  /** `text_contamination`: n-gram overlap of each corpus doc against the
    * held-out benchmark set — the pre-training decontamination check run
    * before every release. A doc is reported when ANY of its distinct
    * 3-token shingles (60-bit hashed) appears in the benchmark's shingle
    * set, with overlap ratio and a `contaminated` flag at
    * [[ContamThreshold]].
    *
    * Scale: the benchmark side is eval suites — MBs, not TBs — so its
    * distinct shingle set is broadcast; the corpus side is one explode +
    * map-side hash join + one count keyed by doc_id. No shuffle of corpus
    * text anywhere.
    */
  def contamination(spark: SparkSession, sfDir: String): DataFrame =
    contaminationTable(spark, sfDir).orderBy("doc_id")

  /** [[contamination]]'s unordered core, MEMOIZED per corpus per run — the
    * shared decontamination gate: `text_contamination` presents it ordered,
    * `train_decontaminated_split` joins its flag, and both read the same
    * scratch parquet instead of re-running the shingle explode (the e1340df
    * repeated-subtree treatment applied to the governance gates).
    */
  def contaminationTable(spark: SparkSession, sfDir: String): DataFrame =
    graft.Scratch.memoize(spark, s"$sfDir#qc#contamination") {
      contaminationOf(
        Tables.documents(spark, sfDir).filter(col("doc_id") % BenchMod =!= 0),
        benchShingles(spark, sfDir))
    }

  /** Distinct hashed shingles over docs. */
  private def shingleRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), expr(Dedup.rawTokens).as("t"))
      .filter(expr(s"size(t) >= ${Dedup.ShingleN}"))
      .select(col("doc_id"), explode(expr(Dedup.shinglesOfT)).as("s"))
      .select(col("doc_id"), expr(Dedup.hash60("s")).as("h"))

  /** The held-out benchmark's distinct shingle-hash set for sfDir. */
  def benchShingles(spark: SparkSession, sfDir: String): DataFrame =
    shingleRows(Tables.documents(spark, sfDir)
      .filter(col("doc_id") % BenchMod === 0))
      .select("h").distinct()

  /** DataFrame core of [[contamination]]: overlap of `docs` against a
    * benchmark shingle-hash set (column `h`). The benchmark side is always
    * broadcast — eval suites are MBs. Per-doc, so a streaming micro-batch
    * runs it as-is ([[graft.streaming.CorpusIngest]]). Unordered.
    */
  def contaminationOf(docs: DataFrame, benchSet: DataFrame): DataFrame =
    shingleRows(docs)
      .join(broadcast(benchSet.withColumn("hit", lit(1))),
        Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
      .filter(col("n_overlap") > 0)
      .withColumn("overlap_ratio",
        col("n_overlap").cast("double") / col("n_shingles"))
      .withColumn("contaminated", col("overlap_ratio") >= ContamThreshold)
      .select("doc_id", "n_shingles", "n_overlap", "overlap_ratio", "contaminated")

  private[pipeline] val contaminationSql =
    s"""WITH t AS (
          SELECT doc_id, ${Dedup.rawTokensDuck} AS t FROM documents
          WHERE len(${Dedup.rawTokensDuck}) >= ${Dedup.ShingleN}
        ), sh AS (
          SELECT doc_id, ${Dedup.hash60Duck("s")} AS h
          FROM (SELECT doc_id, unnest(${Dedup.shinglesOfTDuck}) AS s FROM t)
        ), bench AS (
          SELECT DISTINCT h FROM sh WHERE doc_id % $BenchMod = 0
        ), o AS (
          SELECT sh.doc_id, COUNT(*) AS n_shingles,
                 COUNT(bench.h) AS n_overlap
          FROM sh LEFT JOIN bench USING (h)
          WHERE sh.doc_id % $BenchMod <> 0
          GROUP BY 1
        )
        SELECT doc_id, n_shingles, n_overlap,
               CAST(n_overlap AS DOUBLE) / n_shingles AS overlap_ratio,
               CAST(n_overlap AS DOUBLE) / n_shingles >= $ContamThreshold
                 AS contaminated
        FROM o WHERE n_overlap > 0 ORDER BY doc_id"""

  /** `train_bloom_decontaminate`: the bloom-prescreened exact-hit
    * decontamination — the GPT-3-style "drop any training document that
    * shares an n-gram with the eval set" pass, in the shape that survives
    * a benchmark-shingle set TOO BIG TO BROADCAST (eval + held-out data at
    * release scale): a [[graft.operators.BloomJoin.keyBloom]] membership
    * sketch of the benchmark shingles prescreens the corpus shingle
    * stream MAP-SIDE (`might_contain`, ~1% false positives), and only the
    * surviving suspects shuffle into the exact verify join — forced
    * `hint("merge")` to pin the too-big-to-broadcast plan at fixture
    * scale. Bloom admits no false negatives, so the exact-hit output is
    * bit-identical to a full exact join and the oracle never sees a bloom
    * bit. Output = the drop list: every training doc with ≥ 1 exact
    * shingle hit and its hit count (any-hit removal, the published rule;
    * `text_contamination` keeps the ratio-thresholded broadcast-exact
    * form for benchmark sets that DO fit).
    */
  def bloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val bench = benchShingles(spark, sfDir)
    val bloom = graft.operators.BloomJoin.keyBloom(bench, col("h"), 8192L, 131072L)
    val train = Tables.documents(spark, sfDir).filter(col("doc_id") % BenchMod =!= 0)
    graft.operators.BloomJoin.semiFilter(shingleRows(train), col("h"), bloom)
      .join(bench.hint("merge"), Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .orderBy("doc_id")
  }

  private val bloomDecontaminateSql =
    s"""WITH t AS (
          SELECT doc_id, ${Dedup.rawTokensDuck} AS t FROM documents
          WHERE len(${Dedup.rawTokensDuck}) >= ${Dedup.ShingleN}
        ), sh AS (
          SELECT doc_id, ${Dedup.hash60Duck("s")} AS h
          FROM (SELECT doc_id, unnest(${Dedup.shinglesOfTDuck}) AS s FROM t)
        ), bench AS (
          SELECT DISTINCT h FROM sh WHERE doc_id % $BenchMod = 0
        )
        SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM sh JOIN bench USING (h)
        WHERE sh.doc_id % $BenchMod <> 0
        GROUP BY 1 ORDER BY 1"""

  /** `mix_weights`: temperature-scaled language mixture (α = 0.5 — i.e.
    * sampling weight ∝ √tokens, the standard up-weighting of low-resource
    * languages). α = 0.5 specifically because sqrt is IEEE-exactly-rounded
    * in both engines where a general pow is not; the denominator is a
    * left-fold over the per-lang values sorted ascending, so the double
    * addition order is pinned on both sides. `oversample` is the effective
    * epoch multiplier each lang sees vs proportional sampling.
    *
    * Scale: one langs-sized aggregate + a 1×1 cross join — nothing here
    * grows with corpus size.
    */
  def mixWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val perLang = Tables.documents(spark, sfDir)
      .select(col("lang"), expr(s"size(${Dedup.rawTokens})").as("n"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("n_tokens"))
      .withColumn("s", sqrt(col("n_tokens").cast("double")))
    val totals = perLang.agg(
      expr("sorted_sum(s)").as("denom"),
      sum("n_tokens").as("total_tokens"))
    perLang.crossJoin(totals)
      .withColumn("weight", col("s") / col("denom"))
      .withColumn("oversample",
        col("weight") * col("total_tokens").cast("double") / col("n_tokens"))
      .select("lang", "n_docs", "n_tokens", "weight", "oversample")
      .orderBy("lang")
  }

  private val mixWeightsSql =
    s"""WITH per_lang AS (
          SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(len(${Dedup.rawTokensDuck})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1
        ), s AS (
          SELECT lang, n_docs, n_tokens,
                 sqrt(CAST(n_tokens AS DOUBLE)) AS s
          FROM per_lang
        ), tot AS (
          SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_sort(list(s))), (a, x) -> a + x) AS denom,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
          FROM s
        )
        SELECT lang, n_docs, n_tokens, s / denom AS weight,
               s / denom * total_tokens / n_tokens AS oversample
        FROM s CROSS JOIN tot ORDER BY lang"""

  /** Hash-threshold granularity for fractional sampling. */
  private[pipeline] val Mod = 1000000

  /** `mix_materialize`: apply [[mixWeights]]'s oversample factors to the
    * corpus — the step that actually BUILDS the mixture. Each doc gets
    * `floor(f)` guaranteed copies plus one more when its salted hash falls
    * under the fractional part of f (so a lang at f=1.6 emits every doc
    * once and ~60% of docs twice; a downsampled lang at f=0.8 keeps ~80%).
    * Deterministic: the same doc always draws the same copies, independent
    * of what else is in the corpus partition-wise.
    *
    * Double care: `f - floor(f)` and `* 1000000` are exact IEEE ops on the
    * pinned-order f, and the threshold passes through floor() before any
    * cast because DuckDB CAST(double AS BIGINT) rounds where Spark
    * truncates.
    *
    * Scale: per-lang factors are a langs-sized broadcast; the corpus side
    * is map-only (hash, compare, no explode — emit counts, not copies).
    */
  def mixMaterialize(spark: SparkSession, sfDir: String): DataFrame = {
    val factors = mixWeights(spark, sfDir).select(col("lang"), col("oversample"))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
      .join(broadcast(factors), "lang")
      .withColumn("h",
        expr(s"${Dedup.hash60(s"concat('mix:', CAST(doc_id AS STRING))")} % $Mod"))
      .withColumn("n_copies",
        (floor(col("oversample")) +
          when(col("h") < floor((col("oversample") - floor(col("oversample"))) * Mod), 1)
            .otherwise(0)).cast("long"))
      .select("doc_id", "lang", "n_copies")
      .orderBy("doc_id")
  }

  private val mixMaterializeSql =
    s"""WITH per_lang AS (
          SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(len(${Dedup.rawTokensDuck})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY 1
        ), s AS (
          SELECT lang, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS s
          FROM per_lang
        ), tot AS (
          SELECT list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   list_sort(list(s))), (a, x) -> a + x) AS denom,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
          FROM s
        ), f AS (
          SELECT lang, s / denom * total_tokens / n_tokens AS oversample
          FROM s CROSS JOIN tot
        )
        SELECT d.doc_id, d.lang,
               CAST(floor(oversample) AS BIGINT)
                 + CASE WHEN ${Dedup.hash60Duck("'mix:' || CAST(doc_id AS VARCHAR)")} % $Mod
                          < floor((oversample - floor(oversample)) * $Mod)
                        THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN f USING (lang)
        ORDER BY doc_id"""

  /** Snapshot diff (the CDC/reconciliation primitive): given two corpus
    * snapshots, classify every doc_id as added / removed / changed /
    * unchanged via ONE full-outer join on the key with md5 content
    * fingerprints — the audit a pipeline runs between ingest generations
    * before retraining. The comparison ships fingerprints, not text, so the
    * shuffle moves 32-byte digests regardless of document size.
    *
    * The "new" snapshot here is a deterministic transform of the corpus
    * (every 7th doc dropped, every 11th edited, every 13th cloned to a
    * fresh id) so the oracle derives both sides identically.
    */
  def snapshotDiffOf(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def fp(df: DataFrame, side: String) =
      df.select(col("doc_id"), md5(col("text")).as(s"${side}_fp"))
    fp(oldDocs, "old").join(fp(newDocs, "new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_fp").isNull, "added")
          .when(col("new_fp").isNull, "removed")
          .when(col("old_fp") =!= col("new_fp"), "changed")
          .otherwise("unchanged").as("status"))
  }

  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val old = Tables.documents(spark, sfDir).select("doc_id", "text")
    val newSnap = old
      .filter(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(old.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    snapshotDiffOf(old, newSnap).orderBy("doc_id")
  }

  private val snapshotDiffSql =
    """WITH old AS (
         SELECT doc_id, text FROM documents
       ), new_snap AS (
         SELECT doc_id,
                CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
         FROM old WHERE doc_id % 7 <> 0
         UNION ALL
         SELECT doc_id + 1000000, text FROM old WHERE doc_id % 13 = 0
       ), o AS (SELECT doc_id, md5(text) AS old_fp FROM old),
          n AS (SELECT doc_id, md5(text) AS new_fp FROM new_snap)
       SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.doc_id IS NULL THEN 'added'
                   WHEN n.doc_id IS NULL THEN 'removed'
                   WHEN old_fp <> new_fp THEN 'changed'
                   ELSE 'unchanged' END AS status
       FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
       ORDER BY doc_id"""

  /** Quality-histogram resolution and low-quality threshold for
    * [[sourceReportOf]].
    */
  val QBuckets = 20
  val LowQuality = 0.5

  /** `corpus_source_report`: the per-source curation dashboard — documents,
    * tokens, language spread, low-quality share, and a mean quality score,
    * grouped by the `source` provenance column. This is the report a data
    * curator reads before deciding which sources to keep, upweight, or
    * re-crawl.
    *
    * The mean is DETERMINISTIC at any scale without per-group lists: each
    * doc's quality (the `text_quality_score` formula verbatim) is bucketed
    * into [[QBuckets]] cells, and the mean-of-bucket-midpoints numerator
    * `Σ (2·bucket+1)` is an EXACT integer sum — associative under any
    * partitioning — divided once, at the end, as the single double op. (A
    * naive `avg(quality)` accumulates doubles in partition order and can
    * never hash-match another engine; the mix_weights sorted-fold fixes
    * that only for group counts that stay small, which per-source doc
    * counts do not.)
    *
    * Shape: map-only feature extraction, ONE shuffle on `source`. The
    * low-quality share compares each doc's identically-computed double
    * against [[LowQuality]] — exact, since both engines build the same q.
    *
    * The bucket index is clamped to [0, QBuckets): `stop_tokens` counts
    * `[a-z]+` runs while `n_tokens` counts `\S+` tokens, so a token like
    * `the.the.the` can push `stop_tokens > n_tokens` and q below zero —
    * without the clamp that row would land in a NEGATIVE bucket and drag
    * `mean_quality_bucketed` outside [0, 1].
    */
  def sourceReport(spark: SparkSession, sfDir: String): DataFrame =
    sourceReportOf(graft.Tables.documents(spark, sfDir))

  /** Per-doc curation features — the map-only text pass shared by
    * [[sourceReportOf]] and the composed curation pipeline
    * (`corpus_curated_manifest`): identity, provenance, the
    * `text_quality_score` formula's inputs, the quality double `q`, its
    * histogram bucket `qb`, and the content fingerprint. ONE scan of the
    * corpus text produces every column.
    */
  private[pipeline] def qualityFeaturesOf(docs: DataFrame): DataFrame = {
    val stop = graft.operators.TextStats.stopWords.map(w => s"'$w'").mkString(", ")
    docs.select(
        col("doc_id"), col("source"), col("lang"),
        // text rides along for composers that add more map-only signals on
        // the same scan (html_domain_scorecard's entropy column); consumers
        // that don't touch it get it column-pruned for free
        col("text"),
        md5(col("text")).as("fp"),
        length(col("text")).cast("long").as("n_chars"),
        expr("length(regexp_replace(text, '[^a-zA-Z]', ''))").as("alpha_chars"),
        expr(raw"size(regexp_extract_all(text, '\\S+', 0))").cast("long").as("n_tokens"),
        expr(s"""size(filter(regexp_extract_all(lower(text), '[a-z]+', 0),
                   w -> w IN ($stop)))""").as("stop_tokens"))
      .filter(col("n_tokens") > 0 && col("n_chars") > 0)
      .withColumn("q", expr(
        """0.5D * (CAST(alpha_chars AS DOUBLE) / n_chars)
           + 0.3D * (1.0D - CAST(stop_tokens AS DOUBLE) / n_tokens)
           + 0.2D * least(1.0D, CAST(n_tokens AS DOUBLE) / 100.0D)"""))
      .withColumn("qb",
        expr(s"CAST(least(greatest(floor(q * $QBuckets), 0), ${QBuckets - 1}) AS BIGINT)"))
  }

  def sourceReportOf(docs: DataFrame): DataFrame =
    qualityFeaturesOf(docs)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("q") < LowQuality, 1L).otherwise(0L)).as("n_low_quality"),
        sum(expr("2 * qb + 1")).as("qnum"))
      .withColumn("mean_quality_bucketed",
        expr(s"CAST(qnum AS DOUBLE) / (${2 * QBuckets} * n_docs)"))
      .select("source", "n_docs", "total_tokens", "n_langs",
        "n_low_quality", "mean_quality_bucketed")
      .orderBy("source")

  private val sourceReportSql = {
    val stop = graft.operators.TextStats.stopWords.map(w => s"'$w'").mkString(", ")
    raw"""WITH f AS (
          SELECT source, lang,
                 length(text) AS n_chars,
                 length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
                 len(regexp_extract_all(text, '\S+')) AS n_tokens,
                 len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                     w -> w IN ($stop))) AS stop_tokens
          FROM documents
        ), r AS (
          SELECT source, lang, n_tokens,
                 0.5 * (CAST(alpha_chars AS DOUBLE) / n_chars)
                   + 0.3 * (1.0 - CAST(stop_tokens AS DOUBLE) / n_tokens)
                   + 0.2 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS q
          FROM f WHERE n_tokens > 0 AND n_chars > 0
        ), b AS (
          SELECT source, lang, n_tokens, q,
                 CAST(least(greatest(floor(q * ${QBuckets}), 0), ${QBuckets - 1}) AS BIGINT) AS qb
          FROM r
        )
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               COUNT(DISTINCT lang) AS n_langs,
               CAST(SUM(CASE WHEN q < ${LowQuality} THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_low_quality,
               CAST(SUM(2 * qb + 1) AS DOUBLE) / (${2 * QBuckets} * COUNT(*))
                 AS mean_quality_bucketed
        FROM b GROUP BY 1 ORDER BY 1"""
  }

  // ---- pairwise source overlap (exact + KMV-sketched scale path) ----

  /** Sketch size for [[sourceOverlapKmv]] — [[graft.functions.KmvSketch.K]],
    * so the estimator and its oracle parity precedent (`events_kmv_distinct`)
    * carry over unchanged.
    */
  private val OverlapK = graft.functions.KmvSketch.K

  /** Distinct (source, shingle-hash) membership sets: the char-shingle
    * universe is [[Dedup.shinglePostings]] (memoized — the third consumer
    * after the two sparse-cosine legs), lifted from doc grain to source
    * grain through a broadcast-sized (doc_id, source) dim. Memoized
    * itself: the exact query consumes it three times (sizes + both
    * self-join sides) and the KMV twin twice more — without the memo the
    * distinct aggregation re-runs per consumer (audited in PLANS.md).
    */
  private def sourceShingles(spark: SparkSession, sfDir: String): DataFrame =
    graft.Scratch.memoize(spark, s"$sfDir#corpusqc#source_shingles") {
      Dedup.shinglePostings(spark, sfDir)
        .join(Tables.documents(spark, sfDir).select("doc_id", "source"), "doc_id")
        .select("source", "h").distinct()
    }

  /** `corpus_source_overlap`: EXACT pairwise overlap between sources —
    * shared shingles, Jaccard, and containment — the cross-source
    * contamination matrix a corpus curator reads before mixing (is src_a a
    * crawl of src_b? do two dumps share boilerplate?).
    *
    * Scale: the self-join fans out per hash as df² where df ≤ #sources —
    * total Σ_h df² ≤ |vocab|·S², linear in vocabulary for a fixed source
    * count. Fine for tens-to-hundreds of sources (the real-world shape);
    * when S itself is large, [[sourceOverlapKmv]] is the bounded-state
    * path — the same exact/sketched pairing as `dedup_cosine_sparse` /
    * `dedup_cosine_lsh`.
    */
  def sourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val s = sourceShingles(spark, sfDir)
    val sizes = s.groupBy("source").agg(count(lit(1)).as("n"))
    s.select(col("source").as("sa"), col("h"))
      .join(s.select(col("source").as("sb"), col("h")), "h")
      .filter(col("sa") < col("sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("n_common"))
      .join(broadcast(sizes.select(col("source").as("sa"), col("n").as("na"))), "sa")
      .join(broadcast(sizes.select(col("source").as("sb"), col("n").as("nb"))), "sb")
      .select(col("sa"), col("sb"), col("na"), col("nb"), col("n_common"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double")).as("jaccard"),
        (col("n_common").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("containment"))
      .orderBy("sa", "sb")
  }

  private val sourceOverlapSql =
    s"""WITH w AS (
          SELECT d.source,
                 ${Dedup.hash60Duck(s"substring(text, pos, ${Dedup.CosShingleChars})")} AS h
          FROM (SELECT source, text,
                       unnest(range(1, length(text) - ${Dedup.CosShingleChars - 2},
                                    ${Dedup.CosStride})) AS pos
                FROM documents WHERE length(text) >= ${Dedup.CosShingleChars}) d
        ), s AS (SELECT DISTINCT source, h FROM w),
        sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1),
        inter AS (
          SELECT a.source AS sa, b.source AS sb, CAST(COUNT(*) AS BIGINT) AS n_common
          FROM s a JOIN s b ON a.h = b.h AND a.source < b.source
          GROUP BY 1, 2
        )
        SELECT sa, sb, na.n AS na, nb.n AS nb, n_common,
               CAST(n_common AS DOUBLE) / CAST(na.n + nb.n - n_common AS DOUBLE)
                 AS jaccard,
               CAST(n_common AS DOUBLE) / CAST(LEAST(na.n, nb.n) AS DOUBLE)
                 AS containment
        FROM inter
        JOIN sizes na ON na.source = sa
        JOIN sizes nb ON nb.source = sb
        ORDER BY sa, sb"""

  /** `corpus_source_overlap_kmv`: [[sourceOverlap]]'s bounded-state scale
    * path — per-source KMV sketches ([[OverlapK]] smallest distinct hashes,
    * a pure set function, so merge order cannot change it) pairwise-merged
    * into union estimates; intersections by inclusion–exclusion. State per
    * source is K longs REGARDLESS of corpus size, and the pair stage works
    * on S·K rows, not the vocabulary — this is what runs when both the
    * corpus and the source count are large.
    *
    * The estimator is [[graft.functions.KmvSketch]]'s (exact below K,
    * (K−1)·2^60/h_K above). The Spark side builds each sketch with the
    * `kmv_sketch` TypedImperativeAggregate (O(K) state, map-side combine);
    * the DuckDB twin takes the same K smallest as a rank-K prefix — the
    * state is a pure set function, so the two enumerations agree
    * element-for-element and every estimate is bit-identical.
    * Inclusion–exclusion can go negative on sketch noise; clamped at 0 in
    * both engines.
    */
  def sourceOverlapKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val s = sourceShingles(spark, sfDir)
    // per-source sketch in ONE partial+final aggregation (kmv_sketch,
    // O(K) state per source, map-side combined) — the window-rank form
    // this replaces shuffled and sorted every source's whole distinct-hash
    // universe to keep 64 rows of it
    overlapFromSketches(s.groupBy("source").agg(expr("kmv_sketch(h)").as("g")))
      .orderBy("sa", "sb")
  }

  /** Pairwise KMV set-algebra estimates from per-source `(source, g)`
    * sketches — shared by [[sourceOverlapKmv]] and the incremental card
    * ([[cardFromPartials]]), whose merged-across-batches sketches are the
    * same pure set function of the corpus.
    */
  private def overlapFromSketches(sketches: DataFrame): DataFrame = {
    val K = OverlapK
    val H = graft.functions.KmvSketch.HashSpace
    // a sketch shorter than K IS the full distinct set (exact); at K the
    // K-th minimum drives the estimator — one rule for groups AND unions
    def est(g: org.apache.spark.sql.Column) =
      when(size(g) < K, size(g).cast("double"))
        .otherwise(lit((K - 1).toDouble) * lit(H) /
          element_at(g, K).cast("double"))
    val perSource = sketches.withColumn("est", est(col("g")))
    // KMV union property: the K smallest of (A ∪ B) are all contained in
    // sketchA ∪ sketchB, so merging the two sketch SETS and re-taking the
    // K-th order statistic IS the sketch of the union; when the merged set
    // has fewer than K elements both inputs were exact, so the union is too
    val pairs = perSource.select(col("source").as("sa"), col("est").as("est_a"),
        col("g").as("ga"))
      .join(perSource.select(col("source").as("sb"), col("est").as("est_b"),
        col("g").as("gb")), col("sa") < col("sb"))
    pairs
      .withColumn("merged", expr("array_sort(array_union(ga, gb))"))
      .withColumn("est_union", est(col("merged")))
      .withColumn("est_intersection",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0)))
      .select(col("sa"), col("sb"), col("est_a"), col("est_b"), col("est_union"),
        col("est_intersection"),
        (col("est_intersection") / col("est_union")).as("jaccard_kmv"),
        (col("est_intersection") / least(col("est_a"), col("est_b")))
          .as("containment_kmv"))
  }

  private val sourceOverlapKmvSql = {
    val k = OverlapK
    val h = "1152921504606846976.0" // 2^60, exactly representable
    s"""WITH w AS (
          SELECT d.source,
                 ${Dedup.hash60Duck(s"substring(text, pos, ${Dedup.CosShingleChars})")} AS h
          FROM (SELECT source, text,
                       unnest(range(1, length(text) - ${Dedup.CosShingleChars - 2},
                                    ${Dedup.CosStride})) AS pos
                FROM documents WHERE length(text) >= ${Dedup.CosShingleChars}) d
        ), s AS (SELECT DISTINCT source, h FROM w),
        r AS (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM s
        ), sk AS (
          SELECT source, list(h ORDER BY h) AS g
          FROM r WHERE rn <= $k GROUP BY source
        ), es AS (
          SELECT source, g,
                 CASE WHEN len(g) < $k THEN CAST(len(g) AS DOUBLE)
                      ELSE ${k - 1}.0 * $h / CAST(g[$k] AS DOUBLE) END AS est
          FROM sk
        ), p AS (
          SELECT a.source AS sa, b.source AS sb, a.est AS est_a, b.est AS est_b,
                 list_sort(list_distinct(a.g || b.g)) AS merged
          FROM es a JOIN es b ON a.source < b.source
        ), u AS (
          SELECT sa, sb, est_a, est_b,
                 CASE WHEN len(merged) < $k THEN CAST(len(merged) AS DOUBLE)
                      ELSE ${k - 1}.0 * $h / CAST(merged[$k] AS DOUBLE) END AS est_union
          FROM p
        )
        SELECT sa, sb, est_a, est_b, est_union,
               GREATEST(est_a + est_b - est_union, 0.0) AS est_intersection,
               GREATEST(est_a + est_b - est_union, 0.0) / est_union AS jaccard_kmv,
               GREATEST(est_a + est_b - est_union, 0.0) / LEAST(est_a, est_b)
                 AS containment_kmv
        FROM u ORDER BY sa, sb"""
  }

  /** `corpus_dataset_card`: the per-source release card — every per-source
    * health number a curator reads before shipping a corpus snapshot, in
    * ONE oracle-checked query: volume and quality (the source report),
    * exact-duplicate and repetition-flagged and benchmark-contaminated doc
    * counts, and the worst cross-source containment. This is the
    * composition story (`corpus_curated_manifest` precedent): every column
    * is produced by the SAME operator the standalone oracle row checks —
    * the card cannot drift from the audits it summarizes.
    *
    * Shape: five source-grain aggregates left-joined on a 20-row key — the
    * corpus-scale work happens once inside each component (and the shingle
    * membership table is the memoized one), the card itself is dim-sized.
    * `max_containment` is NULL for a source sharing no shingle with any
    * other (both engines agree).
    */
  def datasetCard(spark: SparkSession, sfDir: String): DataFrame = {
    // r18: the card's three memoized corpus-grain component builds (exact
    // fingerprints, the contamination gate, the source shingle membership
    // with its upstream shingle postings) are INDEPENDENT — force them
    // concurrently so the cold card pays max(component) + compose instead
    // of sum(components) (guide §2.6; measured 4.3 s → see
    // OPTIMIZATION_r18.md). Memo hits make this a no-op when the
    // standalone rows already built them.
    graft.Scratch.buildConcurrently(Seq(
      () => Dedup.exactDedupTable(spark, sfDir),
      () => contaminationTable(spark, sfDir),
      () => sourceShingles(spark, sfDir)))
    val docs = Tables.documents(spark, sfDir)
    val src = docs.select("doc_id", "source")
    val base = sourceReportOf(docs)
    val dups = Dedup.exactDedupTable(spark, sfDir).filter(col("is_duplicate"))
      .join(src, "doc_id").groupBy("source").agg(count(lit(1)).as("n_exact_dups"))
    // same universe as the standalone `text_contamination` row: held-out
    // benchmark docs are not corpus candidates, so they don't self-flag —
    // and the SAME memoized gate table, scanned not recomputed
    val contam = contaminationTable(spark, sfDir)
      .filter(col("contaminated")).join(src, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
    val rep = repetitionOf(docs).filter(col("flagged")).join(src, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_repetition_flagged"))
    val ov = sourceOverlap(spark, sfDir)
    val cont = ov.select(col("sa").as("source"), col("containment"))
      .union(ov.select(col("sb").as("source"), col("containment")))
      .groupBy("source").agg(max("containment").as("max_containment"))
    base
      .join(dups, Seq("source"), "left")
      .join(contam, Seq("source"), "left")
      .join(rep, Seq("source"), "left")
      .join(cont, Seq("source"), "left")
      .na.fill(0L, Seq("n_exact_dups", "n_contaminated", "n_repetition_flagged"))
      .orderBy("source")
  }

  private val datasetCardSql =
    s"""WITH base AS (SELECT * FROM ($sourceReportSql)),
        dsrc AS (SELECT doc_id, source FROM documents),
        dups AS (
          SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_exact_dups
          FROM (${Dedup.exactDedupSql}) x JOIN dsrc d USING (doc_id)
          WHERE x.is_duplicate GROUP BY 1
        ), contam AS (
          SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_contaminated
          FROM ($contaminationSql) c JOIN dsrc d USING (doc_id)
          WHERE c.contaminated GROUP BY 1
        ), rep AS (
          SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_repetition_flagged
          FROM ($repetitionSql) r JOIN dsrc d USING (doc_id)
          WHERE r.flagged GROUP BY 1
        ), ov AS (SELECT * FROM ($sourceOverlapSql)),
        cont AS (
          SELECT source, MAX(containment) AS max_containment
          FROM (SELECT sa AS source, containment FROM ov
                UNION ALL SELECT sb AS source, containment FROM ov)
          GROUP BY 1
        )
        SELECT b.source, b.n_docs, b.total_tokens, b.n_langs, b.n_low_quality,
               b.mean_quality_bucketed,
               COALESCE(dups.n_exact_dups, 0) AS n_exact_dups,
               COALESCE(contam.n_contaminated, 0) AS n_contaminated,
               COALESCE(rep.n_repetition_flagged, 0) AS n_repetition_flagged,
               cont.max_containment
        FROM base b
        LEFT JOIN dups USING (source)
        LEFT JOIN contam USING (source)
        LEFT JOIN rep USING (source)
        LEFT JOIN cont USING (source)
        ORDER BY source"""

  // ---- incremental card: per-batch partials + merge (streaming twin) ----

  /** Per-(source, lang) volume/quality sufficient statistics — exact
    * integer sums, so cross-batch merge is associative addition and the
    * merged `mean_quality_bucketed` division is bit-identical to the
    * single-pass [[sourceReportOf]].
    */
  def cardVolPartial(docs: DataFrame): DataFrame =
    qualityFeaturesOf(docs).groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"),
        sum(when(col("q") < LowQuality, 1L).otherwise(0L)).as("n_low_quality"),
        sum(expr("2 * qb + 1")).as("qnum"))

  /** Per-(fingerprint, source) count + min doc_id — the sufficient
    * statistic for exact-dup counting: the global canonical is the min over
    * every batch's mins, and a source's dup count falls out of its counts
    * minus its canonical holdings. Same normalized fingerprint as
    * `dedup_exact` ([[Dedup.tokenSet]]).
    */
  def cardFpPartial(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        expr(s"md5(array_join(${Dedup.tokenSet}, ' '))").as("fingerprint"))
      .groupBy("fingerprint", "source")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("min_doc"))

  /** Per-source contamination / repetition flag counts — both flags are
    * doc-local (benchmark set broadcast), so batch counts sum.
    */
  def cardFlagPartial(docs: DataFrame, benchSet: DataFrame): DataFrame = {
    val src = docs.select("doc_id", "source")
    val contam = contaminationOf(docs.filter(col("doc_id") % BenchMod =!= 0), benchSet)
      .filter(col("contaminated")).join(src, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_contaminated"))
    val rep = repetitionOf(docs).filter(col("flagged")).join(src, "doc_id")
      .groupBy("source").agg(count(lit(1)).as("n_repetition_flagged"))
    contam.join(rep, Seq("source"), "full")
      .na.fill(0L, Seq("n_contaminated", "n_repetition_flagged"))
  }

  /** Per-source KMV sketch over the batch's char-shingle hashes (the
    * [[sourceShingles]] universe, doc-local so batch-computable). The
    * sketch is a pure set function: merging batches' sketches re-sketches
    * to exactly the whole-corpus sketch, which is what makes the
    * incremental containment estimate converge bit-for-bit.
    */
  def cardKmvPartial(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= Dedup.CosShingleChars)
      .select(col("source"), explode(expr(
          s"sequence(1, length(text) - ${Dedup.CosShingleChars - 1}, ${Dedup.CosStride})"))
          .as("pos"),
        col("text"))
      .select(col("source"),
        expr(Dedup.hash60(s"substring(text, pos, ${Dedup.CosShingleChars})")).as("h"))
      .groupBy("source").agg(expr("kmv_sketch(h)").as("g"))

  /** Merge accumulated partials into the per-source card —
    * [[datasetCardKmv]]'s semantics exactly, whether the partials are one
    * batch (the oracle query) or many micro-batches (the streaming ingest,
    * [[graft.streaming.CorpusIngest]]): every leg's state is associative
    * (sums, mins, KMV set-union), so the merged card equals the
    * single-pass card bit-for-bit.
    */
  def cardFromPartials(vol: DataFrame, fp: DataFrame, flags: DataFrame,
                       kmv: DataFrame): DataFrame = {
    val base = vol.groupBy("source").agg(
        sum("n_docs").as("n_docs"), sum("total_tokens").as("total_tokens"),
        countDistinct("lang").as("n_langs"), sum("n_low_quality").as("n_low_quality"),
        sum("qnum").as("qnum"))
      .withColumn("mean_quality_bucketed",
        expr(s"CAST(qnum AS DOUBLE) / (${2 * QBuckets} * n_docs)"))
    val fpm = fp.groupBy("fingerprint", "source")
      .agg(sum("cnt").as("cnt"), min("min_doc").as("min_doc"))
    val canon = fpm.groupBy("fingerprint").agg(min("min_doc").as("canonical_id"))
    val dups = fpm.join(canon, "fingerprint")
      .select(col("source"), (col("cnt") -
        when(col("min_doc") === col("canonical_id"), 1L).otherwise(0L)).as("nd"))
      .groupBy("source").agg(sum("nd").as("n_exact_dups"))
      .filter(col("n_exact_dups") > 0)
    val flagsM = flags.groupBy("source").agg(
      sum("n_contaminated").as("n_contaminated"),
      sum("n_repetition_flagged").as("n_repetition_flagged"))
    val merged = kmv.select(col("source"), explode(col("g")).as("h"))
      .groupBy("source").agg(expr("kmv_sketch(h)").as("g"))
    val ov = overlapFromSketches(merged)
    val cont = ov.select(col("sa").as("source"), col("containment_kmv"))
      .union(ov.select(col("sb").as("source"), col("containment_kmv")))
      .groupBy("source").agg(max("containment_kmv").as("max_containment"))
    base
      .join(dups, Seq("source"), "left")
      .join(flagsM, Seq("source"), "left")
      .join(cont, Seq("source"), "left")
      .na.fill(0L, Seq("n_exact_dups", "n_contaminated", "n_repetition_flagged"))
      .select("source", "n_docs", "total_tokens", "n_langs", "n_low_quality",
        "mean_quality_bucketed", "n_exact_dups", "n_contaminated",
        "n_repetition_flagged", "max_containment")
      .orderBy("source")
  }

  /** `corpus_dataset_card_kmv`: [[datasetCard]] with the containment leg on
    * the KMV set-algebra estimates — the card variant whose EVERY leg is
    * bounded-state mergeable, i.e. the one a streaming ingest can maintain
    * incrementally ([[graft.streaming.CorpusIngest.cardStateWriter]] lands
    * the per-batch partials, [[cardFromPartials]] merges). Registered
    * through the same single-batch partial path the stream uses, so the
    * oracle row checks exactly the code the micro-batches run.
    */
  def datasetCardKmv(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    cardFromPartials(
      cardVolPartial(docs), cardFpPartial(docs),
      cardFlagPartial(docs, benchShingles(spark, sfDir)), cardKmvPartial(docs))
  }

  private val datasetCardKmvSql =
    s"""WITH base AS (SELECT * FROM ($sourceReportSql)),
        dsrc AS (SELECT doc_id, source FROM documents),
        dups AS (
          SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_exact_dups
          FROM (${Dedup.exactDedupSql}) x JOIN dsrc d USING (doc_id)
          WHERE x.is_duplicate GROUP BY 1
        ), contam AS (
          SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_contaminated
          FROM ($contaminationSql) c JOIN dsrc d USING (doc_id)
          WHERE c.contaminated GROUP BY 1
        ), rep AS (
          SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_repetition_flagged
          FROM ($repetitionSql) r JOIN dsrc d USING (doc_id)
          WHERE r.flagged GROUP BY 1
        ), ov AS (SELECT * FROM ($sourceOverlapKmvSql)),
        cont AS (
          SELECT source, MAX(containment_kmv) AS max_containment
          FROM (SELECT sa AS source, containment_kmv FROM ov
                UNION ALL SELECT sb AS source, containment_kmv FROM ov)
          GROUP BY 1
        )
        SELECT b.source, b.n_docs, b.total_tokens, b.n_langs, b.n_low_quality,
               b.mean_quality_bucketed,
               COALESCE(dups.n_exact_dups, 0) AS n_exact_dups,
               COALESCE(contam.n_contaminated, 0) AS n_contaminated,
               COALESCE(rep.n_repetition_flagged, 0) AS n_repetition_flagged,
               cont.max_containment
        FROM base b
        LEFT JOIN dups USING (source)
        LEFT JOIN contam USING (source)
        LEFT JOIN rep USING (source)
        LEFT JOIN cont USING (source)
        ORDER BY source"""

  // ---- snapshot distribution drift (per-lang chi-square) ----

  /** Length-bucket width / count for the drift contingency table. */
  val DriftBucketWidth = 64
  val DriftBuckets = 10

  /** `corpus_snapshot_drift`: per-language χ² between the length-bucket
    * distributions of two corpus snapshots (the `dedup_incremental` slice
    * convention: `doc_id % 10 != 0` = indexed corpus, `% 10 == 0` =
    * arriving batch) — the distribution-drift alarm a recurring crawl
    * needs: `corpus_snapshot_diff` says WHICH docs changed, this says
    * whether the new data still LOOKS like the old (a χ² far above dof
    * means the source changed character, not just content).
    *
    * Exactly the `orders_chisq_independence` construction GROUPED by lang:
    * dense (snapshot × bucket) cells per lang, margins via windows
    * PARTITIONED by (lang, …), every term an IEEE expression over exact
    * integers (no transcendentals — the reason a χ² double can be
    * hash-compared at all), per-lang `sorted_sum` fold. Cells with zero
    * expectation (a snapshot empty within a lang) contribute 0 rather
    * than NaN — the degenerate-margin guard.
    *
    * Scale: one counting shuffle at (lang, snapshot, bucket) grain; all
    * statistic math on ≤ langs·2·[[DriftBuckets]] rows.
    */
  def snapshotDrift(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"),
        when(col("doc_id") % 10 === 0, "new").otherwise("old").as("s"),
        expr(s"least(n_chars div $DriftBucketWidth, ${DriftBuckets - 1})").as("b"))
    val counts = docs.groupBy("lang", "s", "b").agg(count(lit(1)).as("n"))
    val snaps = spark.range(2).select(
      when(col("id") === 0, "old").otherwise("new").as("s"))
    val cells = counts.select("lang", "b").distinct()
      .crossJoin(snaps)
      .join(counts, Seq("lang", "s", "b"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val terms = cells
      .withColumn("rt", sum("n").over(Window.partitionBy("lang", "s")))
      .withColumn("ct", sum("n").over(Window.partitionBy("lang", "b")))
      .withColumn("tot", sum("n").over(Window.partitionBy("lang")))
      .withColumn("e", col("rt").cast("double") * col("ct") / col("tot"))
      .withColumn("term", when(col("e") > 0.0,
        (col("n").cast("double") - col("e")) * (col("n").cast("double") - col("e"))
          / col("e")).otherwise(0.0))
    terms.groupBy("lang").agg(
        count(lit(1)).as("n_cells"),
        (countDistinct("b") - 1).as("dof"),
        sum(when(col("s") === "old", col("n")).otherwise(0L)).as("n_old"),
        sum(when(col("s") === "new", col("n")).otherwise(0L)).as("n_new"),
        expr("sorted_sum(term)").as("chisq"))
      .orderBy("lang")
  }

  private val snapshotDriftSql =
    s"""WITH docs AS (
          SELECT lang,
                 CASE WHEN doc_id % 10 = 0 THEN 'new' ELSE 'old' END AS s,
                 least(n_chars // $DriftBucketWidth, ${DriftBuckets - 1}) AS b
          FROM documents
        ), c AS (
          SELECT lang, s, b, CAST(COUNT(*) AS BIGINT) AS n FROM docs GROUP BY 1, 2, 3
        ), cells AS (
          SELECT lb.lang, sn.s, lb.b, COALESCE(c.n, 0) AS n
          FROM (SELECT DISTINCT lang, b FROM c) lb
          CROSS JOIN (SELECT 'old' AS s UNION ALL SELECT 'new') sn
          LEFT JOIN c ON c.lang = lb.lang AND c.s = sn.s AND c.b = lb.b
        ), t AS (
          SELECT lang, s, b, n,
                 CAST(SUM(n) OVER (PARTITION BY lang, s) AS BIGINT) AS rt,
                 CAST(SUM(n) OVER (PARTITION BY lang, b) AS BIGINT) AS ct,
                 CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) AS tot
          FROM cells
        ), terms AS (
          SELECT lang, s, n,
                 CASE WHEN CAST(rt AS DOUBLE) * ct / tot > 0.0e0 THEN
                   (CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * ct / tot)
                     * (CAST(n AS DOUBLE) - CAST(rt AS DOUBLE) * ct / tot)
                     / (CAST(rt AS DOUBLE) * ct / tot)
                 ELSE 0.0e0 END AS term,
                 b
          FROM t
        )
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(COUNT(DISTINCT b) - 1 AS BIGINT) AS dof,
               CAST(SUM(CASE WHEN s = 'old' THEN n ELSE 0 END) AS BIGINT) AS n_old,
               CAST(SUM(CASE WHEN s = 'new' THEN n ELSE 0 END) AS BIGINT) AS n_new,
               list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list(term))),
                           (a, x) -> a + x) AS chisq
        FROM terms GROUP BY lang ORDER BY lang"""

  /** Byte-entropy keep-band, milli-bits/byte: natural prose sits ~3500-5000;
    * below [[EntropyLowMilli]] is a repetition flood / boilerplate wall,
    * above [[EntropyHighMilli]] is random-or-compressed bytes pasted as text
    * (cf. the entropy screens in CCNet/Gopher-style curation).
    */
  val EntropyLowMilli = 2500L
  val EntropyHighMilli = 5800L

  /** `text_entropy_quality`: per-doc byte-histogram Shannon entropy +
    * alphabet width + keep flag — the cheap quality screens that run before
    * any tokenization. One map-only scan: both signals are native
    * codegen'd kernels (`byte_entropy_milli`, `byte_distinct_count`; see
    * [[graft.functions.ByteStats]]) so at 100 TB this is a
    * projection on the corpus scan, never an explode-per-byte shuffle (the
    * oracle twin, which has no custom functions, pays exactly that unnest —
    * the 3-line SQL is the spec, the expression is the scale path).
    */
  def entropyQuality(spark: SparkSession, sfDir: String): DataFrame =
    entropyQualityOf(Tables.documents(spark, sfDir)).orderBy("doc_id")

  /** Per-doc core of [[entropyQuality]] — unordered, streaming-safe. */
  def entropyQualityOf(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        expr("octet_length(text)").cast("long").as("n_bytes"),
        expr("byte_distinct_count(text)").as("n_distinct_bytes"),
        expr("byte_entropy_milli(text)").as("entropy_milli"))
      .withColumn("keep",
        col("entropy_milli").between(EntropyLowMilli, EntropyHighMilli))

  /** DuckDB subquery producing per-doc (doc_id, n_bytes, n_distinct_bytes,
    * entropy_milli) — the oracle twin of the `byte_entropy_milli` /
    * `byte_distinct_count` expressions, shared by `text_entropy_quality`
    * and `html_domain_scorecard`.
    */
  private[pipeline] val entropyPerDocSql =
    """(WITH eb AS (
          SELECT doc_id, upper(hex(encode(text))) AS h,
                 octet_length(encode(text)) AS n
          FROM documents WHERE length(text) > 0
        ), ee AS (
          SELECT doc_id, n, substring(h, CAST(i * 2 + 1 AS INT), 2) AS byte
          FROM (SELECT doc_id, n, unnest(range(0, n)) AS i, h FROM eb) t
        ), ec AS (
          SELECT doc_id, n, byte, COUNT(*) AS c FROM ee GROUP BY 1, 2, 3
        ), es AS (
          -- terms summed in ascending byte order: float sums are
          -- order-sensitive and the Spark expression adds b = 0x00..0xFF
          SELECT doc_id, any_value(n) AS n_bytes,
                 CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes,
                 list_aggregate(
                   list(CASE WHEN c > 1 THEN c * ln(CAST(c AS DOUBLE))
                             ELSE 0.0e0 END ORDER BY byte), 'sum') AS s
          FROM ec GROUP BY doc_id
        )
        -- greatest(0, ...) mirrors the Spark expression's clamp: a
        -- single-distinct-byte doc's sum can land one ulp above ln(n) and
        -- floor of the tiny negative would emit -1, off the [0, 8000] bound
        SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, n_distinct_bytes,
               greatest(CAST(0 AS BIGINT),
                 CAST(floor(1000.0 * (ln(CAST(n_bytes AS DOUBLE)) - s / n_bytes)
                            / ln(2.0e0)) AS BIGINT)) AS entropy_milli
        FROM es)"""

  /** DuckDB subquery producing per-doc (doc_id, n_chars, n_tokens, q, qb)
    * — the doc-grain quality formula shared by the source-grain rows and
    * `html_domain_scorecard`.
    */
  private[pipeline] def qualityPerDocSql: String = {
    val stop = graft.operators.TextStats.stopWords.map(w => s"'$w'").mkString(", ")
    raw"""(WITH qf AS (
          SELECT doc_id, length(text) AS n_chars,
                 length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars,
                 len(regexp_extract_all(text, '\S+')) AS n_tokens,
                 len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                     w -> w IN ($stop))) AS stop_tokens
          FROM documents
        ), qr AS (
          SELECT doc_id, n_chars, n_tokens,
                 0.5 * (CAST(alpha_chars AS DOUBLE) / n_chars)
                   + 0.3 * (1.0 - CAST(stop_tokens AS DOUBLE) / n_tokens)
                   + 0.2 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) AS q
          FROM qf WHERE n_tokens > 0 AND n_chars > 0
        )
        SELECT doc_id, n_chars, n_tokens, q,
               CAST(least(greatest(floor(q * $QBuckets), 0), ${QBuckets - 1}) AS BIGINT) AS qb
        FROM qr)"""
  }

  private val entropyQualitySql =
    s"""SELECT doc_id, n_bytes, n_distinct_bytes, entropy_milli,
               entropy_milli BETWEEN $EntropyLowMilli AND $EntropyHighMilli AS keep
        FROM $entropyPerDocSql e ORDER BY doc_id"""

  /** `text_compress_ratio`: per-doc Zstandard compression ratio — the
    * second classic cheap quality signal (a real entropy coder sees
    * LONG-RANGE redundancy the byte histogram cannot: a page of repeated
    * paragraphs has high byte entropy but compresses to nothing). Flags:
    * ratio below [[CompressRatioMin]] = boilerplate/repetition;
    * above [[CompressRatioMax]] = binary-in-text.
    *
    * Oracle design — codec split from gate: DuckDB has no zstd scalar, so
    * the CODEC cannot have a SQL twin (it is pinned by
    * `docs_zstd_roundtrip`'s real-frame md5 round-trip and CorpusQcSpec's
    * planted fixtures). What CAN be cross-checked is everything built ON
    * the coded lengths: the query additionally materializes the
    * per-digest `zstd_deflate` length as a parquet artifact under
    * [[LensRoot]] (SF-tagged subdir), and the ORACLE joins documents to
    * that artifact by md5 digest to recompute n_bytes, the
    * overhead-corrected ratio, and the keep verdict independently — rows,
    * schema, the IEEE division, and the threshold decision all
    * hash-verified (zstd is deterministic, so the digest-grain lengths
    * agree exactly with the in-plan ones). The QUERY itself stays the
    * map-only single-scan screen — the artifact is the oracle harness's
    * side-channel, not part of the operator plan; a stale or missing
    * artifact fails loudly through the oracle's inner join dropping rows.
    */
  val CompressRatioMin = 0.25
  val CompressRatioMax = 0.95

  /** Root of the materialized digest→coded-length artifacts. The writer
    * and the oracle glob BOTH scope to the zstd-jni library version
    * (`ZstdVersion.VERSION` — a static on the same classpath that
    * produced the lengths), so an artifact left by an OLDER zstd never
    * fans out the digest join with stale lengths: a version bump simply
    * reads an empty dir until the query re-materializes (loud — the
    * oracle's inner join drops every row). Below the version sits a
    * PER-RUN nonce (r17): the oracle SQL is rendered by the same JVM
    * that writes the artifact, so the paths agree within a run, and a
    * concurrent user on the same box — the shared-/tmp cross-pollution
    * risk — can never land files inside this run's glob. Per-run dirs
    * are small (one row per distinct digest) and live under /tmp's
    * normal cleanup; they are deliberately NOT deleted on JVM exit,
    * because the DuckDB check runs after the writing JVM has exited.
    */
  val LensRoot = "/tmp/graft_oracle_feed/zstd_lens"

  private val LensVersionDir =
    s"$LensRoot/zstd_${com.github.luben.zstd.util.ZstdVersion.VERSION.replaceAll("[^A-Za-z0-9.]+", "_")}" +
      s"/run_${java.util.UUID.randomUUID.toString.replace("-", "")}"

  private def lensDir(sfDir: String): String =
    s"$LensVersionDir/${sfDir.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "")}"

  /** The Spark-computed codec leg the oracle consumes: one coded length
    * per distinct text digest (zstd is deterministic, so the digest grain
    * is exact).
    */
  private[pipeline] def compressLensOf(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(md5(col("text").cast("binary")).as("digest"),
        expr("octet_length(zstd_deflate(cast(text AS binary)))")
          .cast("long").as("n_zstd_bytes"))
      .distinct()

  def compressRatio(spark: SparkSession, sfDir: String): DataFrame = {
    compressLensOf(Tables.documents(spark, sfDir))
      .write.mode("overwrite").parquet(lensDir(sfDir))
    compressRatioOf(Tables.documents(spark, sfDir)).orderBy("doc_id")
  }

  def compressRatioOf(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        expr("octet_length(text)").cast("long").as("n_bytes"),
        expr("octet_length(zstd_deflate(cast(text AS binary)))")
          .cast("long").as("n_zstd_bytes"))
      // frame overhead (~13 B magic/header/checksum) dominates tiny docs;
      // subtract it so the ratio measures the payload's coded size
      .withColumn("ratio",
        expr("CAST(greatest(n_zstd_bytes - 13, 1) AS DOUBLE) / n_bytes"))
      .withColumn("keep",
        col("ratio").between(CompressRatioMin, CompressRatioMax))

  private val compressRatioSql =
    s"""WITH lens AS (
          SELECT DISTINCT digest, n_zstd_bytes
          FROM '$LensVersionDir/*/*.parquet'
        ), d AS (
          SELECT doc_id, md5(text) AS digest,
                 CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
          FROM documents WHERE length(text) > 0
        )
        SELECT doc_id, n_bytes, n_zstd_bytes,
               CAST(greatest(n_zstd_bytes - 13, 1) AS DOUBLE) / n_bytes AS ratio,
               (CAST(greatest(n_zstd_bytes - 13, 1) AS DOUBLE) / n_bytes)
                 BETWEEN $CompressRatioMin AND $CompressRatioMax AS keep
        FROM d JOIN lens USING (digest)
        ORDER BY doc_id"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_repetition" -> (repetition _),
    "corpus_snapshot_drift" -> (snapshotDrift _),
    "corpus_snapshot_diff" -> (snapshotDiff _),
    "text_contamination" -> (contamination _),
    "train_bloom_decontaminate" -> (bloomDecontaminate _),
    "mix_weights" -> (mixWeights _),
    "mix_materialize" -> (mixMaterialize _),
    "corpus_source_report" -> (sourceReport _),
    "corpus_source_overlap" -> (sourceOverlap _),
    "corpus_source_overlap_kmv" -> (sourceOverlapKmv _),
    "corpus_dataset_card" -> (datasetCard _),
    "corpus_dataset_card_kmv" -> (datasetCardKmv _),
    "text_entropy_quality" -> (entropyQuality _),
    "text_compress_ratio" -> (compressRatio _),
  )

  override def oracle: Map[String, String] = Map(
    "text_repetition" -> repetitionSql,
    "corpus_snapshot_drift" -> snapshotDriftSql,
    "corpus_snapshot_diff" -> snapshotDiffSql,
    "text_contamination" -> contaminationSql,
    "train_bloom_decontaminate" -> bloomDecontaminateSql,
    "mix_weights" -> mixWeightsSql,
    "mix_materialize" -> mixMaterializeSql,
    "corpus_source_report" -> sourceReportSql,
    "corpus_source_overlap" -> sourceOverlapSql,
    "corpus_source_overlap_kmv" -> sourceOverlapKmvSql,
    "corpus_dataset_card" -> datasetCardSql,
    "corpus_dataset_card_kmv" -> datasetCardKmvSql,
    "text_entropy_quality" -> entropyQualitySql,
    // text_compress_ratio: the codec has no DuckDB twin (pinned by
    // docs_zstd_roundtrip); the gate IS cross-checked — the oracle joins
    // the Spark-materialized digest→length artifact and recomputes the
    // ratio and verdict independently
    "text_compress_ratio" -> compressRatioSql,
  )
}
