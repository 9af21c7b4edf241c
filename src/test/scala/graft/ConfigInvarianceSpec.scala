package graft

import org.scalatest.funsuite.AnyFunSuite

/** Determinism under execution-config change: every oracle-checked value in
  * this engine claims BIT-identity under any partitioning — so running the
  * FULL registry with a different shuffle fan-out and AQE disabled must
  * reproduce the default-config rows exactly. This is the one property the
  * DuckDB oracle cannot test (it always sees one engine's output):
  * plan-shape changes inside Spark itself — partition counts, exchange
  * placement, adaptive re-planning — must be invisible in the results.
  *
  * Every registered query runs under both configs at sf0.001 (r8 #5 /
  * r10 #4 directive: partition-order nondeterminism is the one bug class
  * the oracle can't see, and it is cheap at this scale). Memoized stages
  * and bucketed index tables are cleared between configs so the shared
  * pipeline stages REBUILD under the changed plan shapes instead of
  * replaying default-config bytes.
  *
  * Rows are compared as canonically-sorted rendered values: the driver's
  * oracle gate re-sorts rows before hashing, so inter-row order on ties is
  * not part of any query's contract, but every VALUE (doubles included)
  * must be bit-identical — `Double.toString` is injective on distinct
  * bit patterns (modulo -0.0/NaN, which the render distinguishes enough
  * for: no query emits either).
  */
class ConfigInvarianceSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.session
  private val sf = "/root/testdata/sf0.001"

  private def render(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect()
      .map(_.toSeq.map {
        case a: Array[_] => a.toSeq.toString
        case v => String.valueOf(v)
      }.mkString("\u0001"))
      .sorted.toSeq

  test("ALL registered queries are bit-identical under shuffle=7 + AQE off") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val defaults = names.map(n => n -> render(n)).toMap
    val conf = spark.conf
    val (p0, aqe0) = (conf.get("spark.sql.shuffle.partitions"),
      conf.get("spark.sql.adaptive.enabled"))
    try {
      conf.set("spark.sql.shuffle.partitions", "7")
      conf.set("spark.sql.adaptive.enabled", "false")
      // memoized stages and bucketed index tables must REBUILD under the
      // new config — otherwise the second pass replays default-config bytes
      Scratch.clearMemo()
      Scratch.dropBucketedTables(spark)
      spark.catalog.clearCache()
      val drifted = names.filter(n => render(n) != defaults(n))
      assert(drifted.isEmpty,
        s"queries drifted under shuffle=7/AQE-off: ${drifted.mkString(", ")}")
    } finally {
      conf.set("spark.sql.shuffle.partitions", p0)
      conf.set("spark.sql.adaptive.enabled", aqe0)
      Scratch.clearMemo() // don't leak config-7 memo tables to other suites
      Scratch.dropBucketedTables(spark)
      spark.catalog.clearCache()
    }
  }
}
