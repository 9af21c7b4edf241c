package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftSparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The shared parquet schema ([[Tables.parquet]]): a warm read of a base
  * table or a memo hit launches no Spark job, and the kept schema follows
  * what inference depends on — the files, the parquet settings — while a
  * missing path still fails with Spark's own error.
  */
class TablesSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Long = {
    val n = new AtomicLong()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    GraftSparkInternals.flushListeners(spark.sparkContext, 5000)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftSparkInternals.flushListeners(spark.sparkContext, 5000); n.get() }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def freshPath(name: String): String = s"${Scratch.dir("graft_spec_tables")}/$name"

  test("a warm base-table read and a warm query construction launch no Spark job") {
    def reads(): Unit = { Tables.table(spark, Sf001, "lineitem"); Tables.events(spark, Sf001) }
    val q1 = SparkEntry.queries("tpch_q1_pricing")
    reads(); q1(spark, Sf001)
    assert(jobsDuring { reads(); reads() } === 0L)
    assert(jobsDuring(q1(spark, Sf001)) === 0L)
  }

  test("a second memoize or memoizePartitioned call on one key launches no Spark job") {
    def plain() = Scratch.memoize(spark, "spec#tables-memo")(spark.range(20).toDF("id"))
    def parted() = Scratch.memoizePartitioned(spark, "spec#tables-parted", Seq("p"))(
      spark.range(20).select(col("id") % 3 as "p", col("id"), lit("x") as "z"))
    plain(); parted()
    assert(jobsDuring { plain(); parted() } === 0L)
    assert(plain().count() === 20L && parted().count() === 20L)
  }

  test("a partitioned hit keeps the inferred schema and column order") {
    val key = "spec#tables-parted-order"
    val hit = Scratch.memoizePartitioned(spark, key, Seq("p"))(
      spark.range(12).select(col("id") % 4 as "p", col("id"), lit("x") as "z"))
    val path = Scratch.spans.find(_.name == key).get.path
    val inferred = spark.read.parquet(path).schema
    assert(inferred.fieldNames.toSeq === Seq("id", "z", "p"))
    assert(hit.schema === inferred)
    assert(Scratch.memoizePartitioned(spark, key, Seq("p"))(fail("rebuilt")).schema === inferred)
  }

  test("overwriting a parquet path with a different schema is seen on the next read") {
    val path = freshPath("t.parquet")
    spark.range(3).write.mode("overwrite").parquet(path)
    assert(Tables.parquet(spark, path).columns.toSeq === Seq("id"))
    spark.range(3).selectExpr("cast(id as string) AS s", "id * 2 AS d")
      .write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path)
    assert(again.columns.toSeq === Seq("s", "d"))
    assert(again.orderBy("d").collect().map(_.getString(0)).toSeq === Seq("0", "1", "2"))
  }

  test("flipping spark.sql.parquet.binaryAsString re-infers the schema") {
    // a file with a bare BINARY column and no Spark schema in its footer,
    // the only kind binaryAsString retypes
    val path = freshPath("bare.parquet")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(path)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "graft"))
    finally w.close()
    assert(Tables.parquet(spark, path).schema("b").dataType === BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val asString = Tables.parquet(spark, path)
      assert(asString.schema("b").dataType === StringType)
      assert(asString.collect().map(_.getString(0)).toSeq === Seq("graft"))
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(Tables.parquet(spark, path).schema("b").dataType === BinaryType)
  }

  test("a missing path still fails with Spark's PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](Tables.parquet(spark, freshPath("missing.parquet")))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }

  test("two threads that first read one path at the same time both succeed") {
    val path = freshPath("raced.parquet")
    spark.range(7).selectExpr("id", "id * id AS sq").write.parquet(path)
    val results = new Array[Either[Throwable, (Seq[String], Long)]](2)
    val threads = results.indices.map { i =>
      new Thread(() => {
        results(i) =
          try { val df = Tables.parquet(spark, path); Right((df.columns.toSeq, df.count())) }
          catch { case t: Throwable => Left(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(results.toSeq === Seq.fill(2)(Right((Seq("id", "sq"), 7L))))
  }
}
