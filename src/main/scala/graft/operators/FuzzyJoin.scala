package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Tables}

/** Approximate string matching / entity resolution: find records whose names
  * are within edit distance 1 — without the O(n²) all-pairs comparison, and
  * without blocking misses.
  *
  * Candidate generation is the POSITION-ANNOTATED deletion neighborhood
  * (FastSS): each name emits (i, variant-with-char-i-deleted) for every
  * position plus (0, name) as its identity key. Distance-1 pairs ALWAYS
  * meet: a substitution pair shares the deletion at the differing position
  * (equi-join on (i, k)), and a length-changing edit meets through the
  * shorter string's identity key against the longer's deletion (join on k
  * with i = 0). Unlike prefix/phonetic blocking this candidate set has
  * FULL recall at d=1; the exact `levenshtein` re-check (identical classic
  * edit distance in Spark and DuckDB) only removes false candidates.
  *
  * Why the position matters: without it, deletion variants collide across
  * positions (repeated runs — the zero padding here — and
  * insert-elsewhere/delete-elsewhere lookalikes), inflating blocks ~10×.
  * Measured at sf0.1: naive 15-char-prefix blocking ~50 s (Σ|block|² ≈ 15M
  * over ~1000-wide blocks); unpositioned deletion keys ~10 s; this form
  * ~3 s with blocks bounded by the alphabet (≤10 digit variants).
  *
  * At 100 TB: key volume is n·(L+1) rows — shuffle linear in corpus size,
  * per-key groups alphabet-bounded, the same reducer-sized-blocks calculus
  * as the LSH bands. For d=2, [[fuzzyPairsD2]] emits the 2-deletion
  * neighborhood (≈ n·L²/2 keys, fine for bounded-length name/identifier
  * columns; document-length strings switch to the positional q-gram
  * blocker, [[qgramDocPairs]]).
  */
object FuzzyJoin extends QueryModule {

  val MaxDist = 1

  /** Radius of the wide matcher: the FastSS theorem (Bocek et al. 2007)
    * gives full recall at edit distance ≤ d when each side emits all
    * variants with ≤ d deletions, joined on the VARIANT alone.
    */
  val MaxDist2 = 2

  /** Per-record fuzzy-neighbor summary: how many other names sit within
    * [[MaxDist]] edits, and the smallest such neighbor id (a deterministic
    * witness). Records with zero neighbors are not emitted — absence IS the
    * clean-entity signal.
    */
  /** The distance-≤[[MaxDist]] pair set (a < b, each unordered pair once),
    * memoized to scratch per corpus: [[neighborCounts]] and the triangle
    * census both consume it, and the deletion-key join should run once.
    */
  def fuzzyPairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.Scratch.memoize(spark, s"$sfDir#fuzzy#pairs") {
      rawPairs(spark, sfDir).select("a_id", "b_id").distinct()
    }

  private def rawPairs(spark: SparkSession, sfDir: String): DataFrame = {
    // explode + codegen'd substring/concat, NOT a transform() lambda
    // (interpreted on the key hot path); materialized once so all join
    // sides share one derivation. The join key is the variant's 64-bit
    // xxhash64, not the ~17-char string (r18 — the d2 matcher's
    // discipline brought to the d=1 path): 8-byte keys shuffle/compare
    // ~2× cheaper, equal variants always collide (recall preserved), and
    // a random hash collision only adds a false candidate the
    // `lev_within` verify removes.
    val keyed = graft.Scratch.materialize(
      // fan out before the explode: the fixture's customer scan is one
      // small file = one task (the d2 matcher's discipline; see also the
      // qgram gram memo) — without this the keyed table materializes as
      // ~one file and both join sides scan it near-serially. Conditional
      // (Scratch.fanOut): a production multi-split scan already has the
      // parallelism and pays no extra exchange (r18 verdict item 3).
      graft.Scratch.fanOut(Tables.customer(spark, sfDir))
        .select(col("c_custkey"), col("c_name"),
          explode(expr("sequence(0, length(c_name))")).as("i"))
        .select(col("c_custkey"), col("c_name"), col("i"),
          xxhash64(when(col("i") === 0, col("c_name")).otherwise(
            expr("concat(substring(c_name, 1, i - 1), substring(c_name, i + 1, length(c_name)))")))
            .as("k")),
      "graft_fuzzy_keys")
    def side(p: String) = keyed.select(
      col("c_custkey").as(s"${p}_id"), col("c_name").as(s"${p}_name"),
      col("i").as(s"${p}_i"), col("k").as(s"${p}_k"))
    val a = side("a")
    val b = side("b")
    // substitutions: the deletions must sit at the SAME position. The meet
    // is symmetric (both sides range over every record), so `a_id < b_id`
    // IN the join keeps exactly one orientation of each unordered
    // candidate — r19: half the join output and half the lev_within
    // evaluations for the identical pair set (the retired form emitted
    // both orientations and halved AFTER verification).
    val sub = a.filter(col("a_i") >= 1)
      .join(b.filter(col("b_i") >= 1),
        col("a_k") === col("b_k") && col("a_i") === col("b_i") &&
          col("a_id") < col("b_id"))
    // length-changing edits + exact duplicates: identity meets any key.
    // Asymmetric (one side is the identity row), so both orientations come
    // from the ONE join via the least/greatest normalization below — r19:
    // the retired 3-branch union planned and executed this join twice.
    val idl = a.filter(col("a_i") === 0)
      .join(b, col("a_k") === col("b_k") && col("a_id") =!= col("b_id"))
    val pairs = sub.select(col("a_id"), col("a_name"), col("b_id"), col("b_name"))
      .unionByName(idl.select(col("a_id"), col("a_name"), col("b_id"), col("b_name")))
    // lev_within is symmetric, so verify before normalizing; emit each
    // surviving pair ordered (a < b) regardless of which side found it
    pairs.filter(expr(s"lev_within(a_name, b_name, $MaxDist)"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
  }

  /** Distance-≤2 pair set via the FULL 2-deletion neighborhood (FastSS at
    * d=2): every record emits each variant reachable by deleting 0, 1, or 2
    * characters — enumerated ONCE per unordered deletion set as (i, j)
    * with 0 ≤ i < j (0 = unused slot: (0,0) identity, (0,j) single, (i,j)
    * double) — deduped per record (repeated character runs make distinct
    * deletion sets collide on the same variant), self-joined on the variant
    * string alone, then verified with the exact `levenshtein`. Unlike the
    * d=1 matcher there is no position annotation: at d=2 the two sides'
    * deletion positions need not align (an insert+substitute pair meets
    * through differently-placed deletions), so the variant IS the whole
    * key and the exact re-check carries the precision. Full recall is the
    * FastSS theorem: ed(x,y) ≤ k iff some ≤k-deletion variants coincide.
    *
    * Scale: key volume n·L²/2 — linear in records, quadratic only in the
    * bounded name length; block width is capped by how many sources can
    * re-insert 2 characters into a shared variant (alphabet²-bounded), the
    * same reducer-block calculus as the d=1 keys and the LSH bands.
    */
  def fuzzyPairsD2(spark: SparkSession, sfDir: String): DataFrame =
    graft.Scratch.memoize(spark, s"$sfDir#fuzzy#pairs_d2") {
      val keyed = graft.Scratch.materialize(
        // the fixture's name table is one small file = one scan task; fan
        // out BEFORE the two explodes so the ~100x key expansion runs on
        // all cores — conditional, so a multi-split production scan skips
        // the exchange outright
        graft.Scratch.fanOut(Tables.customer(spark, sfDir))
          .select(col("c_custkey"), col("c_name"),
            explode(expr("sequence(0, length(c_name))")).as("j"))
          .select(col("c_custkey"), col("c_name"), col("j"),
            explode(expr("sequence(0, CASE WHEN j = 0 THEN 0 ELSE j - 1 END)")).as("i"))
          .select(col("c_custkey"), col("c_name"), expr(
            """CASE WHEN j = 0 THEN c_name
                    WHEN i = 0 THEN concat(substring(c_name, 1, j - 1),
                                           substring(c_name, j + 1, length(c_name)))
                    ELSE concat(substring(c_name, 1, i - 1),
                                substring(c_name, i + 1, j - i - 1),
                                substring(c_name, j + 1, length(c_name))) END""").as("k"))
          // block on the variant's 64-bit hash, not the string: 8-byte join
          // keys sort/shuffle ~2x cheaper than 18-char strings, equal
          // variants always collide (recall preserved), and a random hash
          // collision only adds a false candidate the levenshtein verify
          // removes. r19: the name does NOT ride the key table — the
          // distinct, the materialized scratch, and both self-join sides
          // carry (id, kh) alone (16 bytes/row instead of ~42); the verify
          // re-attaches names from the record-count-sized base table by
          // broadcast, a map-side lookup on the candidate stream.
          .select(col("c_custkey"), xxhash64(col("k")).as("kh"))
          .distinct(),
        "graft_fuzzy_keys_d2")
      // verify BEFORE distinct, with the native banded `lev_within`
      // expression: running the bound check on the raw join output keeps
      // the false candidates (~45% of the candidate stream on
      // sequential-id names) out of the distinct's shuffle entirely.
      // (History: the full `levenshtein(a,b) <= 2` costs ~7.6 s on this
      // 30M-row stream at sf0.1 and Spark's own threshold form
      // `levenshtein(a,b,2)` is 4x worse still — hence the custom
      // expression; semantics are spec-pinned identical.)
      val names = Tables.customer(spark, sfDir)
      val idPairs = keyed
        .select(col("c_custkey").as("a_id"), col("kh"))
        .join(keyed.select(col("c_custkey").as("b_id"), col("kh")), "kh")
        .filter(col("a_id") < col("b_id"))
        .join(broadcast(names.select(col("c_custkey").as("a_id"),
          col("c_name").as("a_name"))), "a_id")
        .join(broadcast(names.select(col("c_custkey").as("b_id"),
          col("c_name").as("b_name"))), "b_id")
        .filter(expr(s"lev_within(a_name, b_name, $MaxDist2)"))
        // distinct over the 16-byte id pair only — the names rejoin below
        // from the (small) base table, so the dedup shuffle carries a
        // quarter of the bytes
        .select("a_id", "b_id").distinct()
      idPairs
        .join(names.select(col("c_custkey").as("a_id"), col("c_name").as("a_name")), "a_id")
        .join(names.select(col("c_custkey").as("b_id"), col("c_name").as("b_name")), "b_id")
        .select("a_id", "b_id", "a_name", "b_name")
    }

  /** Per-record fuzzy-neighbor summary (see object doc): derived from the
    * memoized a<b pair set, counting both directions.
    */
  def neighborCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val p = fuzzyPairs(spark, sfDir)
    p.select(col("a_id").as("c_custkey"), col("b_id").as("nbr"))
      .unionByName(p.select(col("b_id").as("c_custkey"), col("a_id").as("nbr")))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_fuzzy_neighbors"), min("nbr").as("nearest_id"))
      .orderBy("c_custkey")
  }

  /** Triangle census of the fuzzy-similarity graph — the standard two-join
    * ordered-edge formulation (a<b<c, so each triangle counts once and the
    * join never revisits a permutation). Degrees in a d=1 graph are
    * alphabet-bounded, so the wedge join stays linear-ish in edges — the
    * graph-analytics companion to the dedup connected components. Emits the
    * one-row census (edges, wedge candidates, triangles).
    */
  def triangleCensus(spark: SparkSession, sfDir: String): DataFrame = {
    val e = fuzzyPairs(spark, sfDir)
    val wedges = e.select(col("a_id").as("a"), col("b_id").as("b"))
      .join(e.select(col("a_id").as("b"), col("b_id").as("c")), "b")
    val triangles = wedges
      .join(e.select(col("a_id").as("a"), col("b_id").as("c")), Seq("a", "c"), "left_semi")
    e.agg(count(lit(1)).as("n_edges")).crossJoin(
        wedges.agg(count(lit(1)).as("n_wedges")))
      .crossJoin(triangles.agg(count(lit(1)).as("n_triangles")))
  }

  /** Shared oracle CTE chain ending in `pairs(a, b)` — each distance-≤1
    * unordered pair once, a < b.
    */
  private val pairsCte =
    s"""WITH pos AS (
          SELECT c_custkey, c_name,
                 unnest(range(0, length(c_name) + 1)) AS i
          FROM customer
        ), keyed AS (
          SELECT c_custkey, c_name, i,
                 CASE WHEN i = 0 THEN c_name
                      ELSE substring(c_name, 1, i - 1) || substring(c_name, i + 1)
                 END AS k
          FROM pos
        ), cand AS (
          SELECT a.c_custkey AS a_id, a.c_name AS a_name,
                 b.c_custkey AS b_id, b.c_name AS b_name
          FROM keyed a JOIN keyed b ON a.k = b.k AND a.i = b.i AND a.i >= 1
          UNION
          SELECT a.c_custkey, a.c_name, b.c_custkey, b.c_name
          FROM keyed a JOIN keyed b ON a.k = b.k AND a.i = 0
          UNION
          SELECT b.c_custkey, b.c_name, a.c_custkey, a.c_name
          FROM keyed a JOIN keyed b ON a.k = b.k AND a.i = 0
        ), pairs AS (
          SELECT DISTINCT a_id AS a, b_id AS b FROM cand
          WHERE a_id < b_id AND levenshtein(a_name, b_name) <= $MaxDist
        )"""

  private val neighborCountsSql =
    s"""$pairsCte
        SELECT c_custkey, COUNT(*) AS n_fuzzy_neighbors, MIN(nbr) AS nearest_id
        FROM (SELECT a AS c_custkey, b AS nbr FROM pairs
              UNION ALL
              SELECT b, a FROM pairs) u
        GROUP BY 1 ORDER BY 1"""

  private val triangleCensusSql =
    s"""$pairsCte
        SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
               (SELECT COUNT(*) FROM pairs e1 JOIN pairs e2 ON e1.b = e2.a)
                 AS n_wedges,
               (SELECT COUNT(*) FROM pairs e1
                  JOIN pairs e2 ON e1.b = e2.a
                  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles"""

  /** `customer_entity_clusters`: entity resolution END-TO-END — the three
    * stages every MDM/householding pipeline runs, composed from operators
    * this engine already proves separately: (1) candidate generation via
    * the FastSS deletion-neighborhood blocking ([[fuzzyPairs]], memoized —
    * the same scan the neighbor/triangle queries consume), (2) transitive
    * resolution via the contracted connected-components iteration
    * ([[graft.pipeline.Dedup.components]] — the SAME operator that resolves
    * near-dup documents, applied to a different domain, which is the point
    * of building operators instead of queries), (3) per-cluster summary
    * with a deterministic canonical (the min-id member, whose name labels
    * the cluster) and the sorted member roster. Only true clusters emit
    * (singletons are clean entities — absence is the signal, matching
    * `fuzzy_name_neighbors`).
    *
    * Scale: blocking is alphabet-bounded per key; CC cost is the label
    * graph (≪ pairs); the summary is one cluster-grain aggregate.
    */
  def entityClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // r19: the label-propagation fixpoint is deterministic per corpus —
    // memoize it (the componentLabels pattern) so repeated invocations scan
    // the label table instead of re-running the iterative loop's 5+ jobs
    val labels = graft.Scratch.memoize(spark, s"$sfDir#fuzzy#cc_labels") {
      graft.pipeline.Dedup.components(fuzzyPairs(spark, sfDir))
    }
    val names = Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("lbl"), col("c_name").as("canonical_name"))
    labels.groupBy("lbl")
      .agg(count(lit(1)).as("n_members"),
        expr("array_join(transform(array_sort(collect_list(id)), x -> CAST(x AS STRING)), ',')")
          .as("member_ids"))
      .join(names, "lbl")
      .select(col("lbl").as("cluster_id"), col("canonical_name"),
        col("n_members"), col("member_ids"))
      .orderBy("cluster_id")
  }

  private val entityClustersSql =
    s"""$pairsCte, edges AS (
          SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
        ), ${graft.pipeline.Dedup.ccLabelCtesDuck}, lbl AS (
          SELECT id, l AS cluster_id FROM ${graft.pipeline.Dedup.ccLabelFinal}
        )
        SELECT l.cluster_id, c.c_name AS canonical_name,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               string_agg(CAST(l.id AS VARCHAR), ',' ORDER BY l.id) AS member_ids
        FROM lbl l JOIN customer c ON c.c_custkey = l.cluster_id
        GROUP BY 1, 2 ORDER BY 1"""

  /** Per-record neighbor summary at the WIDE radius (edit distance ≤ 2) —
    * the d=2 twin of `fuzzy_name_neighbors`, over [[fuzzyPairsD2]].
    */
  def neighborCountsD2(spark: SparkSession, sfDir: String): DataFrame = {
    val p = fuzzyPairsD2(spark, sfDir)
    p.select(col("a_id").as("c_custkey"), col("b_id").as("nbr"))
      .unionByName(p.select(col("b_id").as("c_custkey"), col("a_id").as("nbr")))
      .groupBy("c_custkey")
      .agg(count(lit(1)).as("n_fuzzy_neighbors"), min("nbr").as("nearest_id"))
      .orderBy("c_custkey")
  }

  /** `fuzzy_radius_profile`: how the match graph grows with radius — the
    * d≤2 pair set bucketed by EXACT edit distance (0/1/2), one row per
    * distance with the pair count. The d=1 row must equal the positioned
    * matcher's edge count (pinned in the spec), so this doubles as a
    * cross-implementation consistency check between the two blockers.
    */
  def radiusProfile(spark: SparkSession, sfDir: String): DataFrame =
    fuzzyPairsD2(spark, sfDir)
      .groupBy(levenshtein(col("a_name"), col("b_name")).as("dist"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("dist")

  /** Shared d=2 oracle CTE chain ending in `pairs2(a, b, a_name, b_name)`. */
  private val pairs2Cte =
    s"""WITH pj AS (
          SELECT c_custkey, c_name, unnest(range(0, length(c_name) + 1)) AS j
          FROM customer
        ), pij AS (
          SELECT c_custkey, c_name, j,
                 unnest(range(0, CASE WHEN j = 0 THEN 1 ELSE j END)) AS i
          FROM pj
        ), keyed2 AS (
          SELECT DISTINCT c_custkey, c_name,
                 CASE WHEN j = 0 THEN c_name
                      WHEN i = 0 THEN substring(c_name, 1, CAST(j - 1 AS INT))
                                      || substring(c_name, CAST(j + 1 AS INT))
                      ELSE substring(c_name, 1, CAST(i - 1 AS INT))
                           || substring(c_name, CAST(i + 1 AS INT), CAST(j - i - 1 AS INT))
                           || substring(c_name, CAST(j + 1 AS INT))
                 END AS k
          FROM pij
        ), pairs2 AS (
          SELECT DISTINCT a.c_custkey AS a, b.c_custkey AS b,
                 a.c_name AS a_name, b.c_name AS b_name
          FROM keyed2 a JOIN keyed2 b ON a.k = b.k AND a.c_custkey < b.c_custkey
          WHERE levenshtein(a.c_name, b.c_name) <= $MaxDist2
        )"""

  private val neighborCountsD2Sql =
    s"""$pairs2Cte
        SELECT c_custkey, COUNT(*) AS n_fuzzy_neighbors, MIN(nbr) AS nearest_id
        FROM (SELECT a AS c_custkey, b AS nbr FROM pairs2
              UNION ALL
              SELECT b, a FROM pairs2) u
        GROUP BY 1 ORDER BY 1"""

  private val radiusProfileSql =
    s"""$pairs2Cte
        SELECT CAST(levenshtein(a_name, b_name) AS INT) AS dist,
               COUNT(*) AS n_pairs
        FROM pairs2 GROUP BY 1 ORDER BY 1"""

  /** Q-gram size for the document-scale matcher. */
  val QgramQ = 3

  /** Prefix size `q*d + 1` (Ed-Join's constant): `d` edits disturb at most
    * `q*d` of a string's positional q-grams, so ANY `q*d + 1` of them
    * contain at least one that survives into the other string (same gram,
    * position shifted by at most `d` — the shift is bounded by the number
    * of indels). The frequency ordering below only CHOOSES WHICH q*d + 1
    * occurrences probe the index (rarest first, for narrow join keys); any
    * choice has full recall, which is also why the Spark and DuckDB sides
    * match even if their tie-breaks ever diverged.
    */
  private val QgramPrefix = QgramQ * MaxDist2 + 1

  /** Characters of document text joined (after the lang tag). */
  private val QgramSlice = 77

  /** `fuzzy_qgram_docs`: edit-distance-≤2 join over LONG strings — the
    * document-scale twin of [[fuzzyPairsD2]]. FastSS's deletion
    * neighborhood is the right blocker for bounded name/id columns but its
    * key volume is n·L²/2: at document lengths (L ≈ 80 here, unbounded in
    * a real corpus) the variant enumeration itself becomes the quadratic
    * explosion. This variant blocks on POSITIONAL Q-GRAMS instead
    * (Gravano et al. 2001; prefix selection per Ed-Join, Xiao et al.
    * 2008): each string emits its `L - q + 1` positional 3-grams ONCE
    * (linear in corpus bytes), the `q*d + 1 = 7` globally-rarest
    * occurrences per string probe the full gram index (equi-join on the
    * gram), and |Δpos| ≤ d, |Δlen| ≤ d, and the native codegen'd
    * `lev_within` verify carry the precision. Recall proof at
    * [[QgramPrefix]].
    *
    * The fixture string is `lang || ':' || first 77 chars of lower(text)`
    * over the `documents` corpus — real near-dup documents whose language
    * tags and token edits land at distances 0, 1, AND 2 (measured at
    * sf0.01: 6/3/15 pairs), so all three radii are live in the oracle.
    *
    * Scale: gram volume is n·L rows (vs FastSS's n·L²/2) and the probe
    * side is a CONSTANT 7 rows per document; rarest-first selection keeps
    * per-gram blocks narrow, and every filter is a join residual — no
    * cartesian anywhere (plan-pinned). At 100 TB both sides partition by
    * the gram key; the df table is a broadcast.
    */
  def qgramDocPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.documents(spark, sfDir)
      .filter(length(col("text")) >= 30)
      .select(col("doc_id"),
        concat(col("lang"), lit(":"),
          expr(s"substring(lower(text), 1, $QgramSlice)")).as("s"))
    // ONE linear gram pass, memoized (r12: was per-invocation materialize):
    // the df aggregate, the prefix ranking, and the index side all read it,
    // and in production the gram index is built once and probed many times —
    // memoizing makes Bench publish that steady probe cost as a separate
    // number (the build-owning cold run stays the headline)
    val grams = graft.Scratch.memoize(spark, s"$sfDir#fuzzy#qgram_grams") {
      // fan out BEFORE the explode (r18): the fixture's documents scan is
      // one small file = one task, so without this the gram table lands in
      // scratch as ~one parquet file and every downstream stage that scans
      // it — including the candidate join and its lev_within verify, the
      // query's dominant cost — runs at single-task parallelism
      // (measured: verify stage ~3.2 s serial vs ~0.6 s fanned out).
      // Conditional (Scratch.fanOut): a production multi-split scan pays
      // no exchange here (r18 verdict item 3).
      graft.Scratch.fanOut(s)
        .select(col("doc_id"), col("s"), length(col("s")).as("len"),
          explode(expr(s"sequence(1, length(s) - ${QgramQ - 1})")).as("pos"))
        .select(col("doc_id"), col("s"), col("len"), col("pos"),
          expr(s"substring(s, pos, $QgramQ)").as("g"))
    }
    // r19: the prefix SELECTION (df ranking + per-doc top-7) is a per-record
    // property of the index, so it belongs to the one-time index build —
    // memoized next to the gram table. The per-invocation probe path is now
    // just the candidate equi-join + verify; the df aggregate, its
    // broadcast, and the per-doc window no longer run per query (Ed-Join
    // builds its prefix index offline for exactly this reason).
    val pre = graft.Scratch.memoize(spark, s"$sfDir#fuzzy#qgram_prefix") {
      val df = grams.groupBy("g").agg(count(lit(1)).as("df"))
      grams.join(broadcast(df), "g")
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(col("df"), col("g"), col("pos"))))
        .filter(col("rn") <= QgramPrefix)
        .select("doc_id", "s", "len", "pos", "g")
    }
    val probe = pre.select(col("doc_id").as("a_id"), col("s").as("a_s"),
      col("len").as("a_len"), col("pos").as("a_pos"), col("g"))
    val index = grams.select(col("doc_id").as("b_id"), col("s").as("b_s"),
      col("len").as("b_len"), col("pos").as("b_pos"), col("g"))
    val cand = probe.join(index, "g")
      .filter(col("a_id") =!= col("b_id") &&
        abs(col("a_pos") - col("b_pos")) <= MaxDist2 &&
        abs(col("a_len") - col("b_len")) <= MaxDist2 &&
        expr(s"lev_within(a_s, b_s, $MaxDist2)"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    // exact distance re-derives from the base strings (small verified set)
    cand.join(s.select(col("doc_id").as("a_id"), col("s").as("a_s")), "a_id")
      .join(s.select(col("doc_id").as("b_id"), col("s").as("b_s")), "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_s"), col("b_s")).as("dist"))
      .orderBy("a_id", "b_id")
  }

  private val qgramDocPairsSql =
    s"""WITH s AS (
          SELECT doc_id, concat(lang, ':', substring(lower(text), 1, $QgramSlice)) AS s
          FROM documents WHERE length(text) >= 30
        ), g AS (
          SELECT doc_id, s, length(s) AS len, CAST(i AS INT) AS pos,
                 substring(s, CAST(i AS INT), $QgramQ) AS g
          FROM s, unnest(range(1, length(s) - ${QgramQ - 2})) AS t(i)
        ), df AS (
          SELECT g AS gg, COUNT(*) AS df FROM g GROUP BY 1
        ), pre AS (
          SELECT * FROM (
            SELECT g.doc_id, g.s, g.len, g.pos, g.g,
                   row_number() OVER (PARTITION BY g.doc_id
                                      ORDER BY df.df, g.g, g.pos) AS rn
            FROM g JOIN df ON df.gg = g.g
          ) WHERE rn <= $QgramPrefix
        ), cand AS (
          SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS a_id,
                          GREATEST(a.doc_id, b.doc_id) AS b_id
          FROM pre a JOIN g b ON a.g = b.g
          WHERE a.doc_id <> b.doc_id
            AND abs(a.pos - b.pos) <= $MaxDist2
            AND abs(a.len - b.len) <= $MaxDist2
            AND levenshtein(a.s, b.s) <= $MaxDist2
        )
        SELECT c.a_id, c.b_id, CAST(levenshtein(sa.s, sb.s) AS INT) AS dist
        FROM cand c JOIN s sa ON sa.doc_id = c.a_id
                    JOIN s sb ON sb.doc_id = c.b_id
        ORDER BY 1, 2"""

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fuzzy_name_neighbors" -> (neighborCounts _),
    "fuzzy_name_neighbors_d2" -> (neighborCountsD2 _),
    "fuzzy_radius_profile" -> (radiusProfile _),
    "fuzzy_triangle_census" -> (triangleCensus _),
    "fuzzy_qgram_docs" -> (qgramDocPairs _),
    "customer_entity_clusters" -> (entityClusters _),
  )

  override def oracle: Map[String, String] = Map(
    "fuzzy_name_neighbors" -> neighborCountsSql,
    "fuzzy_name_neighbors_d2" -> neighborCountsD2Sql,
    "fuzzy_radius_profile" -> radiusProfileSql,
    "fuzzy_triangle_census" -> triangleCensusSql,
    "fuzzy_qgram_docs" -> qgramDocPairsSql,
    "customer_entity_clusters" -> entityClustersSql,
  )
}
