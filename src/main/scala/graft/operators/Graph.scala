package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryModule, Scratch}

/** PageRank over the co-purchase graph: parts are nodes, an edge connects
  * two parts that ever share an order basket — the same graph the
  * market-basket queries (`basket_pair_counts`, q2_ecommerce_analysis.py's
  * co-occurrence motivation) mine pairwise, here analyzed globally with the
  * canonical iterative-join algorithm every production-scale engine needs.
  *
  * Per round the plan is: contributions = adjacency ⋈ ranks on the source
  * id (ONE node-grain equi-join — the persisted adjacency table already
  * carries the source degree and its neighbor array), a map-side explode
  * to edge grain, one shuffle on the target id for the re-aggregation,
  * then the node-sized rank table rebuilds. [[Iterations]] is fixed, so
  * lineage depth is bounded without per-round re-materialization (contrast
  * `dedup_components`, whose data-dependent fixpoint loop re-roots each
  * round).
  *
  * At 100 TB: the adjacency table is the big immutable input — it is
  * persisted BUCKETED BY `u` (one offline build per corpus), so every
  * round's contribution join reads co-located buckets straight from the
  * files and only the node-sized rank table moves (asserted in
  * PlanAssertionsSpec: zero `u`-exchanges in the executed plan). The contribution aggregate would be a plain `sum`; the sorted
  * left-fold used here pins IEEE addition order so the DuckDB oracle
  * matches bit-for-bit (the mix_weights determinism pattern) at the cost
  * of an in-degree-bounded per-group list. Dangling nodes cannot arise in
  * an undirected graph (every node with an edge has out-degree ≥ 1), so no
  * teleport-mass redistribution term is needed.
  */
object Graph extends QueryModule {

  /** Damping factor and its teleport complement. Kept as separate literals
    * (never derived as `1 - Damping` at runtime): both engines parse the
    * decimal strings "0.85"/"0.15" to the same nearest doubles, whereas
    * computed `1.0 - 0.85` is 0.15000000000000002.
    */
  val Damping = 0.85
  val Teleport = 0.15

  val Iterations = 3
  val TopK = 20

  /** ADJACENCY table of the undirected co-purchase graph — one row per
    * node: `(u, deg, vs)` where `vs` is the SORTED out-neighbor array and
    * `deg = size(vs)`. Persisted via [[Scratch.memoizeBucketed]] as a
    * catalog table BUCKETED AND SORTED BY `u` ([[Scratch.defaultBuckets]]
    * buckets, so the layout tracks the session's configured parallelism),
    * so each round's contribution join (and the node extraction, whose
    * `u`-clustering the bucket layout already satisfies) runs with ZERO
    * exchange on the edge side — the offline one-time index build that
    * makes iterated joins cheap, exactly like the incremental-dedup band
    * index. The basket-item distinct is shared with the market-basket
    * queries.
    *
    * r19 (guide §2.3 "shuffle keys and metadata, not payloads" applied to
    * the ITERATED side): the r18 layout was the flat `(u, v, deg)` edge
    * list — node-grain consumers then scanned ALL |E| rows everywhere the
    * loop needed a node (plan-audited: 8 full scans of the 1.7M-row table
    * plus 3 per-iteration broadcasts of it per query at sf0.1). With one
    * row per node, the node projection reads |V| rows with `vs` pruned by
    * the parquet reader, the rank join moves |V|-sized relations, and the
    * |E|-sized explode happens AFTER the join, map-side, feeding straight
    * into the contribution aggregate. Per-row array state is bounded by
    * the node's degree — exactly the bound the contribution aggregate's
    * sorted fold already carries on the in-degree side.
    */
  private def edges(spark: SparkSession, sfDir: String): DataFrame =
    Scratch.memoizeBucketed(spark, s"$sfDir#graph#adj", "graft_edges", Seq("u")) {
      // per-order ordered pairs from the shared basket arrays (r19: the
      // items self-join re-shuffled both sides on l_orderkey; the array memo
      // pays that grouping once for basket AND graph), both directions
      val c = Retail.orderPairs(spark, sfDir)
      val dir = c.select(col("part_a").as("u"), col("part_b").as("v"))
        .unionByName(c.select(col("part_b").as("u"), col("part_a").as("v")))
      // the u-only repartition makes the distinct's exchange land on
      // hashpartitioning(u) (a u-partitioning trivially clusters (u, v)), so
      // the adjacency groupBy below reuses it instead of adding a second
      // shuffle (guide §2.4: two operations keyed the same way share one
      // exchange) — the same reuse the r18 deg window exploited
      val e = dir.repartition(col("u")).distinct()
      // vs sorted for a deterministic persisted layout; deg = size(vs) is
      // exactly the retired window's COUNT(*) OVER (PARTITION BY u)
      e.groupBy("u").agg(sort_array(collect_list(col("v"))).as("vs"))
        .select(col("u"), size(col("vs")).cast("long").as("deg"), col("vs"))
    }

  /** [[Iterations]] rounds of PageRank over a `(u, deg, vs)` adjacency
    * table (vs = out-neighbors of u, deg = size(vs)). Returns
    * `(id, deg, pagerank)` for every node with at least one out-edge.
    */
  def pagerankOf(adj: DataFrame): DataFrame = {
    // one row per u by construction — no distinct; parquet prunes `vs`
    val nodes = adj.select(col("u").as("id"), col("deg"))
    val n = nodes.agg(count(lit(1)).as("n")).scalar()
    var ranks = nodes.select(col("id"), (lit(1.0) / n).as("r"))
    for (_ <- 1 to Iterations) {
      // join at NODE grain (|V| rows through the join), explode to edge
      // grain after — c = r(u)/deg(u) is computed once per u and fanned
      // out, the identical contribution multiset per target id
      val contribs = adj
        .join(ranks, adj("u") === ranks("id"))
        .select(explode(col("vs")).as("id"), (col("r") / col("deg")).as("c"))
        .groupBy("id")
        .agg(expr("sorted_sum(c)").as("s"))
      ranks = nodes.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(Teleport) / n +
            lit(Damping) * coalesce(col("s"), lit(0.0))).as("r"))
    }
    nodes.join(ranks, "id").select(col("id"), col("deg"), col("r").as("pagerank"))
  }

  /** `graph_pagerank`: top-[[TopK]] parts of the co-purchase graph by
    * PageRank, ties broken by part id.
    */
  def pagerankQ(spark: SparkSession, sfDir: String): DataFrame =
    pagerankOf(edges(spark, sfDir))
      .select(col("id").as("part_id"), col("deg").as("n_neighbors"), col("pagerank"))
      .orderBy(col("pagerank").desc, col("part_id"))
      .limit(TopK)

  private val pagerankSql = {
    val iters = (1 to Iterations).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS (
            SELECT e.v AS id,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     list_sort(list(r.r / e.deg))), (a, x) -> a + x) AS s
            FROM edges e JOIN $prev r ON r.id = e.u
            GROUP BY 1
          ), r$i AS (
            SELECT nodes.id,
                   CAST($Teleport AS DOUBLE) / n
                     + CAST($Damping AS DOUBLE) * COALESCE(c.s, CAST(0.0 AS DOUBLE)) AS r
            FROM nodes CROSS JOIN n LEFT JOIN c$i c ON c.id = nodes.id
          )"""
    }.mkString(", ")
    s"""WITH items AS (
          SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), edge0 AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM items a JOIN items b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        ), deg AS (
          SELECT u, COUNT(*) AS deg FROM edge0 GROUP BY 1
        ), edges AS (
          SELECT e.u, e.v, d.deg FROM edge0 e JOIN deg d USING (u)
        ), nodes AS (
          SELECT u AS id, deg FROM deg
        ), n AS (
          SELECT COUNT(*) AS n FROM nodes
        ), r0 AS (
          SELECT id, CAST(1.0 AS DOUBLE) / n AS r FROM nodes CROSS JOIN n
        ), $iters
        SELECT r.id AS part_id, nd.deg AS n_neighbors, r.r AS pagerank
        FROM r$Iterations r JOIN nodes nd ON nd.id = r.id
        ORDER BY pagerank DESC, part_id LIMIT $TopK"""
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> (pagerankQ _),
  )

  override def oracle: Map[String, String] = Map(
    "graph_pagerank" -> pagerankSql,
  )
}
