package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions.expr

import graft.GraftSession

/** Runs one workload for a fixed time and writes its figures as JSON.
  *
  * {{{
  * Main run --workload <card_refresh|star_query|corpus_gate> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --result <file> [--fault <name>]
  * Main gencheck --seed <n> --work <dir> --result <file>
  * Main warm --seed <n> --work <dir> --result <file>
  * }}}
  *
  * The loop is closed: one driver thread issues the next op when the
  * previous one has returned. Set-up (input generation, table or index
  * build) runs once, then the warm-up ops; `setup_s` is the wall time
  * from the JVM's start to the first timed op. `warm` runs Spark alone
  * through a parquet and JSON round trip: the build runs it once to
  * record the classes every run loads before it reaches graft. */
object Main {

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opts = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(opts("work")).getAbsolutePath
    val result = opts("result")
    val seed = opts("seed").toLong
    val spark = GraftSession("graft-perfbench")
    val sessionReady = System.currentTimeMillis()
    log("session ready")
    val out =
      try mode match {
        case "run" => run(spark, opts("workload"), seed, opts("seconds").toDouble,
          opts("trace") == "1", work, opts.get("fault"),
          (sessionReady - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0)
        case "gencheck" => genCheck(spark, seed, work)
        case "warm" => warm(spark, work)
      } finally spark.stop()
    Files.writeString(new File(result).toPath, Json(out))
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Progress on stderr, in seconds since the JVM started. */
  private def log(event: String): Unit = System.err.println(f"perfbench: t=${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s $event")

  private def fresh(dir: String): Unit = {
    Workload.deleteRecursively(new File(dir))
    new File(dir).mkdirs()
  }

  def run(spark: org.apache.spark.sql.SparkSession, name: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, fault: Option[String],
      jvmToSession: Double): Map[String, Any] = {
    val tr = new Tracer(spark, trace)
    val data = s"$work/data"
    val ctx = new Ctx(spark, tr, seed, data, fault)
    val w = Workload(name, ctx)
    fresh(data)
    val state = ctx.timed(w.setup())._2
    log(f"set-up done in $state%.1f s: " + ctx.setupPhases.map { case (k, v) => f"$k $v%.1f" }.mkString(", "))
    val warm = ctx.timed(w.warmup())._2
    log(f"warm-up done in $warm%.1f s")
    ctx.samples.clear()
    tr.spans.clear()

    w.beforeLoop()
    val outs = mutable.ArrayBuffer[OpOut]()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    // whole rounds of the op cycle, so every run weighs its op kinds alike
    while ((System.nanoTime() < deadline || i % w.round != 0) && i < w.maxOps) {
      tr.op = i
      outs += (try w.op(i) catch {
        case e: Exception =>
          OpOut(0.0, 0L, Seq(s"op $i threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
      })
      if (tr.enabled) {
        ctx.sample("sessioncache.views", spark.catalog.listTables().collect().count(_.isTemporary))
        ctx.sample("sessioncache.pinned_mb", pinnedMb(spark))
      }
      i += 1
    }
    tr.op = -1
    log(s"loop done: ${outs.size} ops")

    // run-end state, before the final check adds anything to the session
    val end = w.endState()
    val heap = heapLiveMb()
    // blocks of views dropped before the collection are released by the
    // context cleaner after it; give it a moment before counting
    Thread.sleep(300)
    val pinned = pinnedMb(spark)
    val finalProblems = try w.finalCheck(outs.size) catch {
      case e: Exception => Seq(s"final check threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
    val oracle = w.oracle()
    log("run-end checks done")

    // latency over every op; throughput over whole rounds of the op
    // cycle, so each run weighs the cycle's op kinds alike, and over the
    // time ops ran, not the benchmark's own checks between them
    val lat = outs.map(_.latency).toSeq
    val n = if (outs.size >= w.round) outs.size / w.round * w.round else outs.size
    val timed = outs.take(n)
    val wall = timed.map(_.latency).sum
    val failedOps = if (finalProblems.nonEmpty) outs.size else outs.count(_.problems.nonEmpty)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "op_p50_s" -> median(lat),
      "ops_per_s" -> n / wall,
      "rows_per_s" -> timed.map(_.rows).sum / wall)
    val extra = mutable.LinkedHashMap[String, Any](
      "ops_timed" -> n, "error_rate" -> failedOps.toDouble / math.max(1, outs.size),
      "heap_live_mb" -> heap, "pinned_mb" -> pinned, "setup_state_s" -> state, "warmup_s" -> warm,
      "jvm_to_session_s" -> jvmToSession,
      "setup_phases_s" -> ctx.setupPhases, "op_latencies_s" -> outs.map(_.latency))
    if (lat.size >= 100) extra("op_p90_s") = lat.sorted.apply((0.9 * lat.size).toInt)
    end.foreach { case (k, v) => extra(k) = v }

    val layers = if (trace) {
      tr.drain()
      val more = w.traceExtras(outs.size)
      tr.drain()
      Layers(tr, ctx, outs.toSeq, end ++ more)
    } else collection.Map.empty[String, Double]

    Map("workload" -> name, "seed" -> seed, "trace" -> trace,
      "attempted" -> outs.size, "failed" -> failedOps,
      "problems" -> (outs.flatMap(_.problems) ++ finalProblems).take(20),
      "end_to_end" -> e2e, "extra" -> extra, "per_layer" -> layers,
      "per_layer_units" -> (if (trace) scala.collection.immutable.ListMap(Layers.Names: _*) else Map.empty),
      "classes" -> (if (trace) Layers.classes(tr, outs.size) else Map.empty),
      "entry_ops" -> outs.groupBy(_.entry).map { case (k, v) => k -> v.size },
      "oracle" -> oracle.map { case (e, sql, dir) => Map("entry" -> e, "sql" -> sql, "dir" -> dir) })
  }

  /** Block-manager storage in use (cached and checkpointed RDD blocks). */
  def pinnedMb(spark: org.apache.spark.sql.SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** Heap in use right after a full collection, summed over the heap
    * pools as the collector reports it. */
  def heapLiveMb(): Double = {
    System.gc()
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Generates every workload's inputs twice with `seed` and once with
    * `seed + 1`, and reports the digests of each. */
  def genCheck(spark: org.apache.spark.sql.SparkSession, seed: Long, work: String): Map[String, Any] = {
    def gen(s: Long, tag: String): String = {
      val d = s"$work/gen-$tag"
      fresh(d)
      Gen.starTables(spark, s"$d/star", s, Gen.StarSizes(150, 10, 200, 1500, 6000, 1000))
      Gen.cardBatches(spark, s"$d/cards", s, Gen.CardBatches(1000, 6, 10, 5, 3, 2))
      Gen.corpus(spark, s"$d/corpus", s"$d/docs", s"$d/vecs", s, Gen.CorpusSizes(200, 200, 4, 5, 5, 10, 2))
      Gen.digest(d)
    }
    Map("same_a" -> gen(seed, "a"), "same_b" -> gen(seed, "b"), "other" -> gen(seed + 1, "c"))
  }

  /** A first parquet and JSON round trip through Spark alone: the
    * classes a run loads before it reaches graft's own code. */
  def warm(spark: org.apache.spark.sql.SparkSession, work: String): Map[String, Any] = {
    val dir = s"$work/warm"
    spark.range(1000).selectExpr("id", "CAST(id AS STRING) AS s").write.mode("overwrite").parquet(s"$dir/p")
    spark.read.parquet(s"$dir/p").groupBy(expr("id % 7")).count().collect()
    spark.range(10).selectExpr("to_json(struct(id)) AS j").write.mode("overwrite").text(s"$dir/j")
    spark.read.json(s"$dir/j").collect()
    Map("warm" -> true)
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
