package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-audit runner: `runMain graft.Plans <query names...>` prints
  * `explain("formatted")` for each registered query at sf0.01, then the
  * formatted executed plan of every scratch write (memo stage, bucketed
  * table or materialize) the query's construction made — the one-time
  * builds whose plans the query's own plan hides behind a scan. A build
  * shared with an earlier listed query is printed under that query only.
  * Findings are kept in PLANS.md — re-run after any plan-affecting change
  * and check: PushedFilters on every scan, pruned ReadSchema, no forced
  * broadcast of data-dependent frames, WindowGroupLimit on top-k windows,
  * cached frames reused (InMemoryTableScan) where a self-join would
  * recompute.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("8")
    spark.sparkContext.setLogLevel("ERROR")
    val sf = "/root/testdata/sf0.01"
    // executed file writes, by output path, until the query's spans claim them
    val writes = new ConcurrentHashMap[String, QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.collectFirst { case w: InsertIntoHadoopFsRelationCommand => w.outputPath }
          .foreach(p => writes.put(p.toUri.getPath, qe))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (name <- names) {
      SparkEntry.queries.get(name) match {
        case Some(q) =>
          val t0 = System.nanoTime()
          val df = q(spark, sf)
          org.apache.spark.GraftSparkInternals.flushListeners(spark.sparkContext, 5000)
          println(s"###PLAN $name")
          df.explain("formatted")
          Scratch.spans.filter(_.startNs >= t0).foreach { s =>
            println(s"###BUILD ${s.kind} ${s.name.stripPrefix(s"$sf#")}")
            println(Option(writes.get(s.path)).fold("(no write plan captured)")(
              _.explainString(FormattedMode)))
          }
          writes.clear()
          spark.catalog.clearCache()
        case None =>
          println(s"###UNKNOWN $name — known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
      }
    }
    spark.stop()
  }
}
