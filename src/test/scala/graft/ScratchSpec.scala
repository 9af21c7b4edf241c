package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Contract tests for the scratch memo layer: exactly-once compute per key
  * under concurrency, independence across keys, retry after failure, eager
  * cleanup, and one span per write that lives exactly as long as its files.
  */
class ScratchSpec extends SparkSpec {

  /** The three keyed entry points, one build path behind them: each runs
    * `df` under `key` and hands back its scan. The partitioned one adds the
    * partition column it lays out by.
    */
  private val keyedEntries: Seq[(String, (String, () => DataFrame) => DataFrame)] = Seq(
    "memoize" -> ((key, df) => Scratch.memoize(spark, key)(df())),
    "memoizePartitioned" -> ((key, df) => Scratch.memoizePartitioned(spark, key, Seq("p"))(
      df().withColumn("p", col("id") % 2))),
    "memoizeBucketed" -> ((key, df) => Scratch.memoizeBucketed(spark, key, "graft_spec_once",
      Seq("id"))(df())))

  test("memoize computes a key exactly once under concurrent callers") {
    for ((entry, memo) <- keyedEntries) {
      val computes = new AtomicInteger(0)
      // each thread hands back its count or what it threw: an assertion
      // inside a spawned thread would only end that thread
      val results = new Array[Either[Throwable, Long]](8)
      val threads = results.indices.map { i =>
        new Thread(() => {
          results(i) =
            try Right(memo(s"spec#concurrent-once-$entry", () => {
              computes.incrementAndGet()
              spark.range(100).select(col("id"))
            }).count())
            catch { case t: Throwable => Left(t) }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(results.toSeq === Seq.fill(8)(Right(100L)), entry)
      assert(computes.get() === 1, entry)
    }
  }

  test("a failed compute is retryable (entry removed, later caller succeeds)") {
    for ((entry, memo) <- keyedEntries) {
      val attempts = new AtomicInteger(0)
      intercept[RuntimeException] {
        memo(s"spec#retry-$entry", () => {
          attempts.incrementAndGet()
          throw new RuntimeException("boom")
        })
      }
      val df = memo(s"spec#retry-$entry", () => {
        attempts.incrementAndGet()
        spark.range(5).select(col("id"))
      })
      assert(df.count() === 5L && attempts.get() === 2, entry)
    }
  }

  test("different keys never share results; clearMemo forces recompute") {
    val computes = new AtomicInteger(0)
    def stage(k: String) = Scratch.memoize(spark, s"spec#$k") {
      computes.incrementAndGet()
      spark.range(10).select(col("id"))
    }
    stage("a").count(); stage("b").count(); stage("a").count()
    assert(computes.get() === 2)
    Scratch.clearMemo()
    stage("a").count()
    assert(computes.get() === 3)
  }

  private def spansNamed(name: String) = Scratch.spans.filter(_.name == name)

  private def buildAll(tag: String): Unit = {
    Scratch.memoize(spark, s"spec#span-memo-$tag")(spark.range(10).toDF()).count()
    Scratch.memoizeBucketed(spark, s"spec#span-bucketed-$tag", "graft_spec_bkt", Seq("id"))(
      spark.range(10).toDF()).count()
    Scratch.materialize(spark.range(10).toDF(), s"graft_spec_eph_$tag").count()
  }

  test("each build and materialize records one named, timed, sized span; a memo hit none") {
    buildAll("a")
    for ((name, kind) <- Seq("spec#span-memo-a" -> "memo",
        "spec#span-bucketed-a" -> "bucketed", "graft_spec_eph_a" -> "ephemeral")) {
      val ss = spansNamed(name)
      assert(ss.size === 1, s"$name: $ss")
      assert(ss.head.kind === kind && ss.head.wallNs >= 0 && ss.head.bytes > 0, ss.head)
    }
    val before = Scratch.spans
    Scratch.memoize(spark, "spec#span-memo-a")(fail("a memo hit must not recompute")).count()
    assert(Scratch.spans === before)
  }

  test("materialize reads back with the schema a plain parquet read infers") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(
        StructField("a", IntegerType, nullable = false), StructField("b", StringType))),
        nullable = false),
      StructField("xs", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("m", MapType(StringType, DoubleType, valueContainsNull = false)),
      StructField("d", DecimalType(18, 4), nullable = false),
      StructField("t", TimestampType),
      StructField("tn", TimestampNTZType, nullable = false)))
    val at = java.time.Instant.parse("2024-01-01T00:00:30Z")
    val rows = Seq(
      Row(1L, Row(1, "x"), Seq(1, 2), Map("k" -> 1.5), BigDecimal("1.2345"),
        java.sql.Timestamp.from(at), java.time.LocalDateTime.parse("2024-01-01T00:00:30")),
      Row(2L, Row(2, null), Seq.empty[Int], null, BigDecimal("-7"), null,
        java.time.LocalDateTime.parse("2024-02-29T12:00:00")))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val back = Scratch.materialize(df, "graft_spec_schema")
    val written = spansNamed("graft_spec_schema").head.path
    assert(back.schema === spark.read.parquet(written).schema)
    assert(back.collect().toSeq === spark.read.parquet(written).collect().toSeq)
    Scratch.sweepEphemeral()
  }

  test("clearMemo, dropBucketedTables and sweepEphemeral each drop their spans") {
    buildAll("b")
    def live = Seq("spec#span-memo-b", "spec#span-bucketed-b", "graft_spec_eph_b")
      .map(spansNamed(_).size)
    assert(live === Seq(1, 1, 1))
    Scratch.clearMemo()
    assert(live === Seq(0, 1, 1))
    Scratch.dropBucketedTables(spark)
    assert(live === Seq(0, 0, 1))
    Scratch.sweepEphemeral()
    assert(live === Seq(0, 0, 0))
  }

  test("a dedup_components run leaves one sfDir-keyed span per counted build") {
    Scratch.clearMemo(); Scratch.dropBucketedTables(spark)
    val b0 = Scratch.buildsCount
    SparkEntry.queries("dedup_components")(spark, Sf0001).count()
    val built = Scratch.spans.filter(_.kind != "ephemeral")
    assert(built.nonEmpty && built.size === Scratch.buildsCount - b0, built.map(_.name))
    assert(built.forall(_.name.startsWith(s"$Sf0001#")), built.map(_.name))
    Scratch.sweepEphemeral()
  }
}
