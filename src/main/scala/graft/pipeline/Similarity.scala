package graft.pipeline

/** Vector-similarity primitives shared by the dedup and similarity-search
  * queries: dot product / L2 norm over `array<float>` embedding columns, and a
  * random-hyperplane LSH bucket assigner (the "coarse quantizer" an IVF index
  * would use).
  *
  * Everything is expressed as SQL expression *strings* in two dialects (Spark
  * and DuckDB) so each query and its oracle compute bit-identical doubles:
  *
  *   - both dot products are STRICT LEFT FOLDS with a 0.0 init — Spark
  *     `aggregate(zip_with(...))`, DuckDB `list_reduce(list_prepend(0.0,
  *     list_transform(list_zip(...))))` — so the floating-point addition order
  *     is identical and the result is reproducible to the last ulp;
  *   - hyperplane components are double literals rendered once from a
  *     deterministic integer recurrence and embedded in BOTH dialects, so the
  *     bucket ids agree exactly.
  *
  * Scale design (100 TB): dot/norm are per-row, map-only expressions that stay
  * inside a single projection — no shuffle, no UDF process boundary.
  * `ivfAssign` turns the quadratic all-pairs similarity problem into an
  * equi-join on a bucket id: vectors are assigned map-side, the join shuffles
  * on `bucket`, and the pair enumeration happens only inside buckets (the LSH
  * guarantee is that near vectors collide with high probability). Reference
  * context: the reference engine has no vector ops — this is the extension
  * surface SURVEY.md §7.2 step 6 plans for the `embeddings` table.
  */
object Similarity {

  // ---- dot / norm, Spark dialect ----

  /** Strict left-fold dot product of two array<float|double> columns. */
  def dot(a: String, b: String): String =
    s"""aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
          CAST(0.0 AS DOUBLE), (acc, p) -> acc + p)"""

  /** L2 norm = sqrt(dot(v, v)). */
  def norm(v: String): String = s"sqrt(${dot(v, v)})"

  // ---- dot / norm, DuckDB dialect (bit-identical fold order) ----

  def dotDuck(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))),
          (acc, p) -> acc + p)"""

  def normDuck(v: String): String = s"sqrt(${dotDuck(v, v)})"

  // ---- random-hyperplane LSH bucket (IVF-style coarse assignment) ----

  /** Embedding dimensionality of the testdata `embeddings.embedding` column. */
  val Dim = 64

  /** Number of hyperplanes → 2^NumPlanes buckets. 8 planes = 256 buckets:
    * at ~1M vectors/bucket-shard scale the within-bucket pair term is bounded
    * by corpus/256 per plane-sign pattern; raise NumPlanes with corpus size.
    */
  val NumPlanes = 8

  /** Deterministic pseudo-random hyperplane component in [-1, 1]: Knuth
    * multiplicative hash of the (plane, dim) index, folded to 1/1000 steps.
    * Rendered to shortest round-trip decimal, so both engines parse the exact
    * same double.
    */
  def planeComponent(p: Int, d: Int): Double = {
    val h = ((p.toLong * Dim + d) * 2654435761L) % 4294967296L
    ((h % 2001L) - 1000L) / 1000.0
  }

  private def planeVals(p: Int): Seq[String] =
    (0 until Dim).map(d => planeComponent(p, d).toString)

  /** Spark literal `array(...)` for plane p (D suffix forces DoubleType). */
  private def planeSpark(p: Int): String =
    planeVals(p).map(_ + "D").mkString("array(", ", ", ")")

  /** DuckDB literal `[...]::DOUBLE[]` for plane p. */
  private def planeDuck(p: Int): String =
    planeVals(p).mkString("[", ", ", "]::DOUBLE[]")

  /** Bucket id 0..2^NumPlanes-1 for a vector column: bit p is the sign of the
    * dot product with hyperplane p. Map-only; identical in both engines
    * because the fold order and plane literals are identical.
    *
    * Uses the codegen'd `vec_dot` (installed by `graft.GraftExtensions`)
    * rather than the interpreted HOF fold — same math, ~8×64 fewer lambda
    * evaluations per row.
    */
  def ivfAssign(v: String): String =
    (0 until NumPlanes).map { p =>
      s"CASE WHEN vec_dot($v, ${planeSpark(p)}) > 0 THEN ${1 << p} ELSE 0 END"
    }.mkString("(", " + ", ")")

  // ---- IVF coarse quantizer (argmin-centroid assignment) ----

  /** Number of IVF centroids (Voronoi cells) and probes per query. TUNED ON
    * THE FIXTURE against `similarity_ivf_recall` (≥ 0.9 with fewer
    * candidates than the LSH path): the synthetic embeddings are
    * near-uniform, so deterministic hash centroids partition about as well
    * as data-sampled ones (measured; stride-sampled centroids were tried and
    * were no better) and recall ≈ probe coverage. Production embeddings
    * CLUSTER — there, k-means-trained centroids make cells align with the
    * clusters and nprobe/C drops to 1–5% for the same recall; the scaling
    * shape is C ≈ √corpus cells with ~√corpus vectors each, nprobe tuned by
    * re-running the recall query.
    */
  val NumCentroids = 16
  val NProbe = 10

  /** Deterministic pseudo-random centroid component in [-1, 1] — same
    * recurrence family as [[planeComponent]] with different constants, so
    * centroids and hyperplanes are decorrelated; rendered once to shortest
    * round-trip decimals shared by both dialects.
    */
  def centroidComponent(c: Int, d: Int): Double = {
    val h = ((c.toLong * Dim + d) * 2246822519L + 1013904223L) % 4294967296L
    ((h % 2001L) - 1000L) / 1000.0
  }

  private def centroidVals(c: Int): Seq[String] =
    (0 until Dim).map(d => centroidComponent(c, d).toString)

  private def centroidSpark(c: Int): String =
    centroidVals(c).map(_ + "D").mkString("array(", ", ", ")")

  private def centroidDuck(c: Int): String =
    centroidVals(c).mkString("[", ", ", "]::DOUBLE[]")

  /** ‖c‖² as a shortest-round-trip double literal (computed once here, so
    * both engines parse the identical value instead of re-summing).
    */
  private def centroidNorm2(c: Int): String =
    (0 until Dim).map(d => centroidComponent(c, d)).map(x => x * x).sum.toString

  /** All [[NumCentroids]] seed centroids as ONE array-of-arrays literal per
    * dialect — the seed table the Lloyd-trained IVF variant starts from
    * (`posexplode`/`unnest` turns it into a (cid, cent) relation).
    */
  def centroidArraySpark: String =
    (0 until NumCentroids).map(centroidSpark).mkString("array(", ", ", ")")

  def centroidArrayDuck: String =
    (0 until NumCentroids).map(centroidDuck).mkString("[", ", ", "]")

  /** array<double>[C] of per-centroid scores ‖c‖² − 2·v·c — the argmin of
    * this is the argmin of L2 distance (‖v‖² is constant per row). Map-only;
    * bit-identical across engines (same literals, same fold order).
    */
  def ivfScores(v: String): String =
    (0 until NumCentroids)
      .map(c => s"(${centroidNorm2(c)} - 2 * vec_dot($v, ${centroidSpark(c)}))")
      .mkString("array(", ", ", ")")

  def ivfScoresDuck(v: String): String =
    (0 until NumCentroids)
      .map(c => s"(${centroidNorm2(c)} - 2 * ${dotDuck(v, centroidDuck(c))})")
      .mkString("[", ", ", "]")

  // ---- multi-table LSH (OR-amplification) ----

  /** DEFAULT planes per table (k): each table has 2^k buckets.
    *
    * SCALING RULE — these defaults are FIXTURE-SCALE (500–60k vectors).
    * Expected candidates per query ≈ L · corpus / 2^k, so size k to the
    * corpus: k ≈ log2(corpus / target_bucket_size) with target bucket size
    * ~1–10k vectors (k = 16–20 ⇒ 65k–1M buckets at 10⁸–10⁹ vectors), then
    * raise L (4–8) until measured recall@k is back over target. The
    * `similarity_lsh_recall` query IS that measurement — recall@10 of the
    * LSH path against the brute-force path — runnable at any (k, L) via the
    * parameters below; the shipped defaults measure ≥ 0.9 on the fixture.
    * Beyond sign-LSH, the same pipeline shape takes an IVF coarse quantizer:
    * swap bucket = sign-pattern for bucket = argmin-centroid, keeping the
    * map-only assignment + bucket equi-join.
    */
  val TableBits = 4

  /** DEFAULT number of tables (L): a pair is a candidate if its buckets
    * match in ANY table. Single-table sign-LSH recall decays as p^k
    * (p = 1 - θ/π per plane); OR-ing L independent tables lifts it to
    * 1-(1-p^k)^L — the same banding trick as MinHash-LSH. k/L trade
    * candidate volume vs recall; see the scaling rule on [[TableBits]].
    * Uses the first L·k of the shared hyperplanes.
    */
  val NumTables = 2

  private def tableBucket(v: String, t: Int, k: Int,
                          dotFn: (String, String) => String,
                          planeFn: Int => String): String =
    (0 until k).map { i =>
      s"CASE WHEN ${dotFn(v, planeFn(t * k + i))} > 0 THEN ${1 << i} ELSE 0 END"
    }.mkString("(", " + ", ")")

  /** array<int>[l] of per-table bucket ids (Spark; needs `vec_dot`).
    * `k`/`l` are per-query knobs — see the scaling rule on [[TableBits]].
    */
  def lshTableBuckets(v: String, k: Int = TableBits, l: Int = NumTables): String =
    (0 until l)
      .map(t => tableBucket(v, t, k, (a, b) => s"vec_dot($a, $b)", planeSpark))
      .mkString("array(", ", ", ")")

  /** DuckDB twin of [[lshTableBuckets]] — identical planes and fold order. */
  def lshTableBucketsDuck(v: String, k: Int = TableBits, l: Int = NumTables): String =
    (0 until l)
      .map(t => tableBucket(v, t, k, dotDuck, planeDuck))
      .mkString("[", ", ", "]")
}
