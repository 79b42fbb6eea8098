package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions

/** Session factory for the graft engine — the one place a session is built.
  *
  * Tuning rationale (100 TB / multi-executor design, exercised on local[N]):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join splitting,
  *    so plans written here survive scale-up without manual re-tuning.
  *  - shuffle.partitions sized to the local core count (SPARK_GRAFT_CPUS,
  *    else every available processor); on a real cluster this would be
  *    ~2-3x total cores and AQE coalesces down.
  *  - UTC session timezone: oracle (DuckDB) parity for all temporal ops.
  *  - Generated-class cache of [[CodegenCacheEntries]] instead of Spark's
  *    100: see that constant for the measured working set.
  *  - [[GraftExtensions]]: graft's SQL functions and planner strategies, in
  *    this session and every `newSession()` / clone of it.
  */
object GraftSession {
  /** Local core count: SPARK_GRAFT_CPUS, else every available processor. */
  private[graft] def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `spark.sql.codegen.cache.maxEntries` (Spark's default is 100). It
    * is a STATIC conf: Spark sizes its one JVM-wide cache of compiled
    * generated classes from it once, so an externally built session
    * (spark-submit, a notebook) has to set it itself.
    *
    * Measured working set (perfbench traced steady-state ops, 4 cores):
    * at 100 entries every op recompiles its plans — 52 compiles per op
    * on card_refresh, 138.5 on corpus_gate. card_refresh reaches 0 at
    * 150; corpus_gate needs 14 at 200 and reaches its floor of 7 at 250
    * (still 7 at 1000: plans whose code changes from op to op). 400
    * keeps ~1.6x headroom over that ~250-entry working set. */
  private[graft] val CodegenCacheEntries = 400

  def apply(appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register every star-schema table at `dir` (plus the ingested cards /
    * sets corpora) as temp views, so the reference's raw-SQL workflow
    * (`psql`-style ad-hoc queries) works verbatim through `spark.sql`:
    *
    * {{{
    * GraftSession.sqlCatalog(spark, dataDir)
    * spark.sql("SELECT s.name, count(*) FROM cards c JOIN sets s ON ... GROUP BY 1")
    * }}}
    *
    * Views are lazy metadata over the parquet scans — registration costs
    * nothing until queried, and every view gets full pushdown/pruning. */
  def sqlCatalog(spark: SparkSession, dir: String): Unit = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(t))
    Tables.events(spark, dir).createOrReplaceTempView("events")
    graft.ingest.IngestOps.cardsCorpus(spark).createOrReplaceTempView("cards")
    graft.ingest.IngestOps.setsCorpus(spark).createOrReplaceTempView("sets")
  }
}

/** graft's one session extension: every [[GraftFunctions.builders]] kernel
  * as a SQL function, the top-k-per-group strategy
  * ([[graft.plans.GraftStrategies]]) and graftlake SQL DML
  * ([[graft.plans.LakeDmlStrategy]]). [[GraftSession]] installs it; an
  * externally built session needs
  * `spark.sql.extensions=graft.GraftExtensions`. Spark applies it once per
  * session state, so every derived session carries it. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, className, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name), new ExpressionInfo(className, name), builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    ext.injectPlannerStrategy(_ => graft.plans.LakeDmlStrategy)
  }
}
