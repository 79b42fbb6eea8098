package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** What one timed op produced: its latency, the input rows it
  * completed, the relational entry or lake read it ran and the output
  * checks it failed. */
final case class OpOut(latency: Double, rows: Long, problems: Seq[String], entry: String = "")

/** Everything a workload needs: the session, the tracer, the seed, the
  * directory its inputs and stores live in, and an optional planted
  * fault (the planted-fault test uses it to prove each check fires). */
final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long,
    val data: String, val fault: Option[String]) {
  /** Per-op layer samples, recorded only when tracing. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def sample(name: String, v: Double): Unit =
    if (tr.enabled) samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def faulty(name: String): Boolean = fault.contains(name)
  /** Seconds per phase of the set-up, in order. */
  val setupPhases = mutable.LinkedHashMap[String, Double]()
  def phase[T](name: String)(body: => T): T = {
    val (r, s) = timed(body)
    setupPhases(name) = s
    r
  }
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

trait Workload {
  /** Generates every input and builds every table or store from scratch
    * under `ctx.data`: the state the warm-up and the timed loop run on. */
  def setup(): Unit
  /** Untimed ops that warm the JVM and the fresh state before the loop. */
  def warmup(): Unit
  /** Ops the generated inputs allow before they would repeat. */
  def maxOps: Int
  /** Ops per round of the mix; latency and throughput are taken over
    * whole rounds, so every run weighs the mix members alike. */
  def round: Int = 1
  def op(i: Int): OpOut
  /** Called right before the timed loop starts. */
  def beforeLoop(): Unit = ()
  /** End-of-run figures measured right after the loop (write_amp, …). */
  def endState(): Map[String, Double] = Map.empty
  /** End-of-run output check over the state all `ops` ops built. A
    * failure marks every one of those ops as failed. */
  def finalCheck(ops: Int): Seq[String] = Seq.empty
  /** Extra per-layer measurements for the traced run, made after the
    * loop so they never touch the timed ops. */
  def traceExtras(ops: Int): Map[String, Double] = Map.empty
  /** Written into the result for the DuckDB oracle check of the
    * relational entries the ops ran. */
  def oracle(): Seq[(String, String, String)] = Seq.empty
}

/** Relational `SparkEntry.queries` entries run inside ops. The first
  * result of each entry is the expected result of its later runs, and
  * after the run it is written out for the comparison with DuckDB
  * running the entry's `SparkEntry.oracleSql` over the same tables. */
final class Entries(ctx: Ctx, oracleFault: String) {
  import ctx._
  private val first = mutable.Map[String, (Seq[Row], StructType, String)]()

  def run(e: String): Seq[Row] =
    tr.span(s"query.$e") { SparkEntry.queries(e)(spark, data).collect().toSeq }

  /** What is wrong with one result of `e`: nothing for its first result. */
  def check(e: String, rows: Seq[Row], what: String): Seq[String] = {
    val got = Workload.rowsHash(rows)
    first.get(e) match {
      case None =>
        first(e) = (rows, SparkEntry.queries(e)(spark, data).schema, got)
        Seq.empty
      case Some((_, _, want)) =>
        if (got == want) Seq.empty else Seq(s"$what ($e): result $got, expected $want")
    }
  }

  /** (entry, oracle SQL, result directory) of every entry run. */
  def oracle(): Seq[(String, String, String)] = {
    // planted fault: the longest result loses a row
    val cut = if (faulty(oracleFault)) first.maxBy(_._2._1.size)._1 else ""
    first.toSeq.sortBy(_._1).map { case (e, (rows0, schema, _)) =>
      val rows = if (e == cut) rows0.drop(1) else rows0
      val dir = s"$data/results/$e"
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      (e, SparkEntry.oracleSql(e), dir)
    }
  }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "card_refresh" => new CardRefresh(ctx)
    case "star_query" => new StarQuery(ctx)
    case "corpus_gate" => new CorpusGate(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-independent fingerprint of a whole DataFrame: row count plus
    * two folds of a per-row xxhash64 over its JSON rendering (columns in
    * name order). */
  def stateHash(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.sorted.map(c => col(s"`$c`")): _*)))
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(0xffffffffL)), bit_xor(h)).head()
    s"${r.getLong(0)}/${r.get(1)}/${r.get(2)}"
  }

  /** Order-independent fingerprint of collected rows. */
  def rowsHash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    s"${rows.size}/" + md.digest().take(12).map("%02x".format(_)).mkString
  }

  /** Bytes of every regular file under `path`. */
  def du(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).getOrElse(Array.empty[File]).map(c => du(c.getPath)).sum
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).foreach(deleteRecursively)
    f.delete()
  }
}
