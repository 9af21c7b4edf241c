package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types._

/** Every native SQL function graft registers, as one table that
  * [[graft.GraftExtensions]] injects in one loop.
  *
  * A static kernel — a function whose whole work is one method of a Scala
  * object — is one [[KernelFn]] row in [[kernels]], evaluated by the shared
  * [[Kernel]] expression. The hand-written loop expressions and the
  * aggregates keep their own classes and get one builder row each.
  */
object Registry {

  type Description = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private val binary = Arg("binary")(_.dataType == BinaryType)
  private val string = Arg("string")(_.dataType == StringType)
  private val strings = Arg("array<string>")(_.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  })
  private val int = Arg("int")(_.dataType == IntegerType)
  // a mask `& (buckets - 1)` spreads over every bucket only for a power of two
  private val buckets = Arg("foldable int")(e => e.dataType == IntegerType && e.foldable, {
    case n: Int if n > 0 && (n & (n - 1)) == 0 => None
    case v => Some(s"bucket count must be a positive power of two, got $v")
  })

  /** The static kernels. The methods' own scaladoc says what each computes. */
  val kernels: Seq[KernelFn] = Seq(
    KernelFn("adler32", Adler32Fn.getClass, "checksum", Seq(binary), LongType),
    KernelFn("ascii85_armor", Ascii85Armor.getClass, "armor", Seq(binary), StringType),
    KernelFn("byte_entropy_milli", ByteStats.getClass, "entropyMilli", Seq(string), LongType,
      alwaysNullable = true),
    KernelFn("byte_distinct_count", ByteStats.getClass, "distinctCount", Seq(string), LongType,
      alwaysNullable = true),
    KernelFn("jpeg_dc_scan_hex", FixtureEmitters.getClass, "jpegDcScanHex",
      Seq(binary, int, int, int), StringType),
    KernelFn("gif_pixel_blocks_hex", FixtureEmitters.getClass, "gifPixelBlocksHex", Seq(binary),
      StringType),
    KernelFn("ahash64_sampled", FixtureEmitters.getClass, "ahash64Sampled", Seq(binary), LongType),
    KernelFn("hash60_array", Hash60Kernels.getClass, "hashArray", Seq(strings),
      ArrayType(LongType, containsNull = true)),
    KernelFn("md5_bucket_counts", Hash60Kernels.getClass, "bucketCounts", Seq(strings, buckets),
      Hash60Kernels.BucketCountType),
    KernelFn("trigram_bucket_counts", Hash60Kernels.getClass, "trigramCounts",
      Seq(string, buckets), Hash60Kernels.BucketCountType),
    KernelFn("gunzip", Gunzip.getClass, "gunzip", Seq(binary), BinaryType, alwaysNullable = true),
    KernelFn("zstd_inflate", ZstdInflate.getClass, "inflate", Seq(binary), BinaryType,
      alwaysNullable = true),
    KernelFn("zstd_deflate", ZstdDeflate.getClass, "deflate", Seq(binary), BinaryType,
      alwaysNullable = true),
    KernelFn("lz4_inflate", Lz4Inflate.getClass, "inflate", Seq(binary), BinaryType,
      alwaysNullable = true),
    KernelFn("lz4_deflate", Lz4Deflate.getClass, "deflate", Seq(binary), BinaryType,
      alwaysNullable = true),
    KernelFn("nfc_normalize", NfcNormalize.getClass, "nfc", Seq(string), StringType,
      alwaysNullable = true))

  /** Every registered function: the kernels, then one builder per
    * hand-written expression or aggregate.
    */
  val all: Seq[Description] =
    kernels.map(k => fn(k.name, classOf[Kernel], k.args.map(_.sql).mkString(", ")) {
      case cs if cs.length == k.args.length => Kernel(k, cs)
    }) ++ Seq(
      fn("vec_dot", classOf[VectorDot], "array<float|double>, array<float|double>") {
        case Seq(a, b) => VectorDot(a, b)
      },
      fn("jaccard_sorted", classOf[JaccardSorted], "array<bigint>, array<bigint>") {
        case Seq(a, b) => JaccardSorted(a, b)
      },
      fn("lev_within", classOf[LevWithin], "string, string, int") {
        case Seq(a, b, k) => LevWithin(a, b, k)
      },
      fn("minhash_sig", classOf[MinhashSig], "array<bigint>, int") {
        case Seq(g, n) => MinhashSig(g, n)
      },
      fn("simhash_sig", classOf[SimhashSig], "array<bigint>") { case Seq(g) => SimhashSig(g) },
      fn("sorted_sum", classOf[SortedSumAgg], "double") { case Seq(x) => SortedSumAgg(x) },
      fn("kmv_distinct", classOf[KmvSketchAgg], "bigint hash") { case Seq(h) => KmvSketchAgg(h) },
      fn("kmv_sketch", classOf[KmvSketchSetAgg], "bigint hash") { case Seq(h) => KmvSketchSetAgg(h) },
      // Spark's own runtime-filter pair, which it builds only inside its
      // InjectRuntimeFilter rule and leaves off the public registry;
      // surfaced so operators.BloomJoin can build the same map-side pruning
      // deliberately. might_contain itself requires a literal or scalar
      // subquery bloom, so a per-row bloom fails at analysis.
      fn("bloom_filter_agg", classOf[BloomFilterAggregate], "hash[, expectedItems[, numBits]]") {
        case Seq(c) => new BloomFilterAggregate(c)
        case Seq(c, n) => new BloomFilterAggregate(c, n)
        case Seq(c, n, m) => new BloomFilterAggregate(c, n, m)
      },
      fn("might_contain", classOf[BloomFilterMightContain], "bloom binary, hash bigint") {
        case Seq(b, h) => BloomFilterMightContain(b, h)
      })

  private def fn(name: String, cls: Class[_], args: String)(
      build: PartialFunction[Seq[Expression], Expression]): Description =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      children => build.applyOrElse(children, (cs: Seq[Expression]) =>
        throw new IllegalArgumentException(s"$name expects ($args), got ${cs.length} arguments")))
}
