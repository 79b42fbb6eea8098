package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession("graft-verify")
    new java.io.File(outDir).mkdirs()
    // run queries on a small thread pool: Spark's scheduler overlaps their
    // stages, hiding per-query planning + small-stage latency. Failure
    // isolation stays per-query.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // events.parquet needs the nanosAsLong conf BEFORE any concurrent read
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // optional comma-separated subset for local iteration (driver leaves
    // unset; Bench has the same switch)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
          failures.add(name)
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Fail LOUDLY after all dumps + oracle_sql.json are written: the
    // driver's per-query compare still sees every query that did run, but
    // a broken query can no longer hide behind a stderr line (r8 lost 25
    // queries silently to one analysis error).
    if (!failures.isEmpty) {
      System.err.println(
        s"[verify] ${failures.size} queries FAILED: ${String.join(", ", failures)}")
      sys.exit(1)
    }
  }
}
