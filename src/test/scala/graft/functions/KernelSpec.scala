package graft.functions

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.debug._

import graft.SparkSpec

/** The native function table and the shared [[Kernel]] expression: the
  * registered name set, analysis-time argument checks, the direct static
  * call in generated code, and codegen/interpreted agreement. Every query
  * here is a one-row literal or `range` query; none runs a registered
  * engine query.
  */
class KernelSpec extends SparkSpec {

  private val Names = Set(
    // static kernels
    "adler32", "ascii85_armor", "byte_entropy_milli", "byte_distinct_count",
    "jpeg_dc_scan_hex", "gif_pixel_blocks_hex", "ahash64_sampled",
    "hash60_array", "md5_bucket_counts", "trigram_bucket_counts",
    "gunzip", "zstd_inflate", "zstd_deflate", "lz4_inflate", "lz4_deflate",
    "nfc_normalize",
    // hand-written expressions and aggregates
    "vec_dot", "jaccard_sorted", "lev_within", "minhash_sig", "simhash_sig",
    "sorted_sum", "kmv_distinct", "kmv_sketch", "bloom_filter_agg", "might_contain")

  /** A well-typed, non-foldable argument per slot, over `range`'s `id`. */
  private def goodArg(a: Arg): String = a.sql match {
    case "binary" => "cast(concat('graft', id) as binary)"
    case "string" => "concat('graft', id)"
    case "array<string>" => "array(concat('graft', id), 'b')"
    case "int" | "foldable int" => "1"
  }

  test("the registry holds exactly the 26 native functions, all in the session") {
    val registered = Registry.all.map(_._1.funcName)
    assert(registered.size === 26 && registered.toSet === Names)
    assert(Registry.kernels.map(_.name).toSet.size === 16)
    Names.foreach(n => assert(spark.catalog.functionExists(n), n))
  }

  test("each kernel rejects a mistyped argument at analysis, naming the function") {
    Registry.kernels.foreach { k =>
      // every kernel's first slot takes binary, string or array<string>;
      // an int there is mistyped
      val args = "1" +: k.args.tail.map(goodArg)
      val e = intercept[AnalysisException](
        spark.range(1).selectExpr(s"${k.name}(${args.mkString(", ")})"))
      assert(e.getMessage.contains(s"${k.name} requires"), s"${k.name}: ${e.getMessage}")
    }
    val e = intercept[AnalysisException](
      spark.range(1).selectExpr("md5_bucket_counts(array('a'), cast(id as int))"))
    assert(e.getMessage.contains("md5_bucket_counts requires (array<string>, foldable int)"),
      e.getMessage)
    intercept[Exception](spark.range(1).selectExpr("gunzip()"))
  }

  test("bucket-count kernels reject a count that is not a positive power of two, naming it") {
    for (f <- Seq("md5_bucket_counts(array('a'), %s)", "trigram_bucket_counts('abcd', %s)");
         n <- Seq("10", "0", "-4")) {
      val sql = f.format(n)
      val e = intercept[AnalysisException](spark.range(1).selectExpr(sql))
      val name = sql.takeWhile(_ != '(')
      assert(e.getMessage.contains(s"$name: bucket count must be a positive power of two, got $n"),
        s"$sql: ${e.getMessage}")
    }
  }

  test("each kernel's generated source calls its static method directly") {
    Registry.kernels.foreach { k =>
      val df = spark.range(1).selectExpr(s"${k.name}(${k.args.map(goodArg).mkString(", ")}) AS v")
      assert(df.queryExecution.executedPlan.toString.contains(s"${k.name}("), k.name)
      val source = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
      val call = s"${k.target.getName.stripSuffix("$")}.${k.method}("
      assert(source.contains(call), s"${k.name}: no `$call` in\n$source")
    }
  }

  test("kernels give equal results with and without codegen, null in null out") {
    val exprs = Seq(
      "adler32(b)", "ascii85_armor(b)", "byte_entropy_milli(s)", "byte_distinct_count(s)",
      "jpeg_dc_scan_hex(cast(repeat(s, 2) as binary), 1, 0, 1)", "gif_pixel_blocks_hex(b)",
      "ahash64_sampled(cast(repeat(s, 16) as binary))", "hash60_array(split(s, 'a'))",
      "md5_bucket_counts(split(s, 'a'), 16)", "trigram_bucket_counts(s, 16)",
      // gzip of "hello"
      "gunzip(if(s IS NULL, NULL, unhex('1F8B0800000000000203CB48CDC9C9070086A6103605000000')))",
      "zstd_inflate(zstd_deflate(b))", "lz4_inflate(lz4_deflate(b))",
      "nfc_normalize(concat(s, 'é'))")
    def run(): Seq[Seq[Any]] = spark.range(2)
      .selectExpr("if(id = 1, null, concat('graft', id)) AS s")
      .selectExpr("s", "cast(s as binary) AS b")
      .selectExpr(exprs: _*)
      .collect().toSeq.map(_.toSeq.map {
        case bytes: Array[Byte] => bytes.toSeq
        case v => v
      })
    val compiled = run()
    val conf = spark.conf
    conf.set("spark.sql.codegen.wholeStage", "false")
    conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interpreted =
      try run()
      finally {
        conf.unset("spark.sql.codegen.wholeStage")
        conf.unset("spark.sql.codegen.factoryMode")
      }
    assert(compiled === interpreted)
    val (nonNull, nulls) = compiled.partition(_.head != null)
    assert(nonNull.size === 1 && nonNull.head.forall(_ != null), nonNull)
    assert(nulls.size === 1 && nulls.head.forall(_ == null), nulls)
    assert(nonNull.head(exprs.indexWhere(_.startsWith("gunzip"))) === "hello".getBytes.toSeq)
  }

  test("kernel nullability follows its row: always, or only with a nullable argument") {
    val schema = spark.range(1).selectExpr(
      "adler32(cast('a' as binary)) AS a", "gunzip(cast('a' as binary)) AS g",
      "adler32(cast(if(id = 0, null, 'a') as binary)) AS n").schema
    assert(!schema("a").nullable && schema("g").nullable && schema("n").nullable)
  }
}
