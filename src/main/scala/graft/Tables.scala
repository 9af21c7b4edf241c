package graft

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * Every query takes `(spark, sfDir)` and resolves tables through here, so the
  * scan is always a plain parquet read that Catalyst can push filters and
  * column pruning into. Plans stay per call; only the inferred schema is
  * shared ([[parquet]]).
  */
object Tables {

  /** What a parquet input's inferred schema depends on: the qualified root
    * path, the root's modification time and length (an overwrite changes
    * them), and the session's parquet settings (`nanosAsLong` and
    * `binaryAsString` change the inferred types; partition type inference
    * changes a partitioned input's partition columns).
    */
  private final case class SchemaKey(path: Path, modified: Long, length: Long,
                                     conf: Map[String, String])

  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  private val SchemaConfs = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.",
    "spark.sql.sources.partitionColumnTypeInference.")

  /** A fresh parquet scan of `path` whose schema is inferred once per
    * [[SchemaKey]]. Spark's inference reads a footer in a Spark job on every
    * `spark.read.parquet`; here only the first read of an input pays it, and
    * every call (the first included) reads with the kept schema, so each
    * still gets its own relation with fresh expression ids. No Spark job runs
    * under a lock: two racing first reads both infer, and the first to land
    * is kept. A path that cannot be stat'ed is read plainly, so it fails with
    * Spark's own error.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        val schema = Option(schemas.get(key)).getOrElse {
          val inferred = spark.read.parquet(path).schema
          Option(schemas.putIfAbsent(key, inferred)).getOrElse(inferred)
        }
        spark.read.schema(schema).parquet(path)
    }

  private def schemaKey(spark: SparkSession, path: String): Option[SchemaKey] =
    try {
      val p = new Path(path)
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      Some(SchemaKey(st.getPath, st.getModificationTime, st.getLen,
        spark.conf.getAll.filter { case (k, _) => SchemaConfs.exists(k.startsWith) }))
    } catch { case NonFatal(_) => None }

  /** Drop the kept schemas of `path` once its files are deleted, so the map
    * holds only live inputs. */
  private[graft] def forget(path: String): Unit = {
    val gone = new Path(path).toUri.getPath
    schemas.keySet.removeIf(_.path.toUri.getPath == gone)
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = table(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = table(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = table(spark, sfDir, "lineitem")
  /** events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
    * generations and TIMESTAMP(MICROS) in others, so the loader normalizes
    * whatever physical type it finds to a session-TZ TimestampType column:
    *
    *  - native timestamp (µs, with or without UTC adjustment): cast — the
    *    session runs in UTC ([[Sessions.local]]) so NTZ→TZ is value-preserving;
    *  - nanos read as raw longs (requires the caller's session to set
    *    `spark.sql.legacy.parquet.nanosAsLong=true`, since Spark 4 otherwise
    *    rejects nanos parquet with PARQUET_TYPE_ILLEGAL): rebuild µs with
    *    integral `div` — double division would lose sub-µs precision on
    *    2024-epoch nanosecond longs (~1.7e18 > 2^53). Truncation matches
    *    DuckDB's own ns→µs cast, so oracle comparisons agree.
    *
    * Any other physical type fails fast with the observed schema in the
    * message rather than surfacing later as a scattered analysis error.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case TimestampType    => raw
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported physical type $other (expected timestamp, " +
          "timestamp_ntz, or long nanos via spark.sql.legacy.parquet.nanosAsLong)")
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
