package graft

import org.apache.spark.sql.SparkSessionExtensions

import graft.plans.{AsOfJoinStrategy, EliminateRedundantLeftJoin, PushLeftFilterThroughAsOf}

/** Session extension installing graft's native SQL functions, wired with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the public
  * extension point, so any Spark deployment (cluster or local) picks the
  * functions up without touching internal session state.
  *
  * Functions: every row of [[functions.Registry]] — the static kernels
  * ([[functions.Registry.kernels]], one [[functions.Kernel]] expression),
  * the hand-written loop expressions (`vec_dot`, `jaccard_sorted`,
  * `lev_within`, `minhash_sig`, `simhash_sig`), the aggregates
  * (`sorted_sum`, `kmv_distinct`, `kmv_sketch`) and Spark's own bloom pair
  * (`bloom_filter_agg`, `might_contain`).
  *
  * Plans: the native as-of join ([[plans.AsOfJoinNode]] →
  * [[plans.AsOfMergeExec]] via [[plans.AsOfJoinStrategy]]) plus its one
  * safe rewrite, [[plans.PushLeftFilterThroughAsOf]], injected into the
  * operator-optimization batch so left-side filters reach the scan; and
  * [[plans.EliminateRedundantLeftJoin]], the semantic-layer join
  * elimination Spark's own optimizer lacks (provably-dead unique-keyed
  * left joins are dropped whole).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.Registry.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => new AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => new PushLeftFilterThroughAsOf)
    ext.injectOptimizerRule(_ => new EliminateRedundantLeftJoin)
  }
}
