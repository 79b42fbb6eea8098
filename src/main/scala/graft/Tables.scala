package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Single place that knows how to load the star-schema parquet tables.
  *
  * All loads are plain parquet scans so Catalyst gets full
  * pushdown/pruning; callers project and filter declaratively and the
  * parquet scan only materializes what survives (`PushedFilters` /
  * `ReadSchema` in explain output). The footer schema is inferred once
  * per table file state ([[load]]), not by a Spark job on every load.
  */
object Tables {
  /** Footer schema per (path, [[snapshot]], nanosAsLong) — the
    * [[tableCount]] idiom. Parquet schema inference runs a Spark job on
    * every schemaless read; a query touching six tables paid six per
    * invocation. The reader conf is part of the key because it changes
    * the inferred type of a nanos `ts` column ([[events]]), and a
    * rewritten table file state re-infers. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // snapshot() walks java.io.File: a URI-schemed or missing path reads
    // uncached (and a missing one fails with the reader's own error)
    if (!new java.io.File(path).exists) return spark.read.parquet(path)
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val key = s"$path@${snapshot(path)}@nanosAsLong=$nanos"
    // the inference job runs OUTSIDE the map (a job inside
    // computeIfAbsent would block every thread hashing to the same bin);
    // a racing duplicate inference is idempotent
    val schema = Option(schemaMemo.get(key)).getOrElse {
      val inferred = spark.read.parquet(path).schema
      schemaMemo.putIfAbsent(key, inferred)
      inferred
    }
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  /** events.parquet has shipped with two physical typings for `ts` across
    * generator versions: INT64 TIMESTAMP(NANOS) (which Spark's vectorized
    * reader rejects unless read as a raw long) and plain timestamp[us].
    * Branch on the LOADED schema rather than hardcoding either: an integral
    * `ts` gets the nanos→micros conversion (integer division — double math
    * would lose precision at 1e18 nanos); a timestamp-typed `ts` is
    * normalized to TIMESTAMP_NTZ and otherwise read natively so pushdown
    * and pruning stay intact. A generator retype must never again zero the
    * events-backed sixth of the suite (see TablesSpec's dual fixtures). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    import org.apache.spark.sql.types.{IntegerType, LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType | IntegerType =>
        raw.withColumn("ts", expr("cast(timestamp_micros(ts DIV 1000) as timestamp_ntz)"))
      case TimestampNTZType => raw
      case TimestampType    => raw.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other =>
        throw new IllegalStateException(
          s"Tables.events: unsupported parquet type for ts: $other (expected integral nanos or timestamp)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")

  /** Round-robin repartition to the session's default parallelism.
    *
    * For CPU-heavy per-row pipelines (shingling, regex scans) over a
    * SMALL file count, the scan yields too few partitions and the map
    * runs on one core while 31 idle — one tiny shuffle of the raw rows
    * buys full map parallelism. At production scale the scan's natural
    * partitioning (maxPartitionBytes over many files) already provides
    * this and the repartition collapses to a cheap rebalance; never use
    * it to move LARGE data that is already well-partitioned. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame =
    df.repartition(spark.sparkContext.defaultParallelism)
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** File-state fingerprint of a table path (names + mtimes + sizes,
    * recursive over a parquet directory): cheap (one listing, no data
    * read) and changes whenever the table is rewritten — the invalidation
    * key for per-JVM memos over data dirs (amplify-into-scratch rewrites
    * a dir mid-session; a bare dir-keyed memo would serve stale state). */
  def snapshot(path: String): String = {
    val root = new java.io.File(path)
    require(root.exists,
      s"Tables.snapshot: no such table path $path (expected a parquet file or directory)")
    // listFiles() returns null (not empty) for unreadable dirs — surface
    // that as a clear error instead of an opaque NPE mid-walk
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        val kids = Option(f.listFiles()).getOrElse(
          throw new IllegalStateException(s"Tables.snapshot: cannot list ${f.getPath}"))
        kids.toSeq.sortBy(_.getName).flatMap(walk)
      } else Seq(f)
    val sig = walk(root)
      .map(f => s"${f.getPath}:${f.lastModified}:${f.length}").mkString("\n")
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sig).toLong & 0xffffffffL)
  }

  /** Table row count, memoized per (path, [[snapshot]]) — parquet counts
    * are metadata-cheap locally but a real planning cost against a lake
    * table, and several operators (rare-word threshold, LSH/IVF capacity)
    * need the count as scalar metadata on every invocation. */
  private val countMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def tableCount(spark: SparkSession, dir: String, name: String): Long =
    countMemo.computeIfAbsent(
      s"$dir/$name@${snapshot(s"$dir/$name.parquet")}",
      _ => java.lang.Long.valueOf(load(spark, dir, name).count())).longValue()
}
