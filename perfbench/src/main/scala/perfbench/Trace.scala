package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call into a layer. Times are epoch milliseconds (the
  * clock Spark's listener events use) with sub-millisecond digits.
  * `codegenNs`/`compiles` are the codegen work done while it was open. */
final case class Span(id: Int, parent: Int, op: Int, name: String, start: Double,
    var end: Double = 0, var codegenNs: Long = 0, var compiles: Long = 0) {
  def wall: Double = (end - start) / 1000.0
}

final case class JobRec(id: Int, group: String, start: Long, var end: Long = -1)
final case class StageRec(id: Int, group: String, start: Long, end: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long)
final case class PhaseRec(phase: String, start: Long, end: Long)

/** Spans around the benchmark's calls into graft's layers, plus the
  * Spark listener and query-execution listener records they are read
  * against. With tracing off, `span` only runs its body: nothing is
  * recorded and no listener is registered.
  *
  * A span sets the Spark job group to its own id, so every job the
  * listener sees is attributed to the innermost open span. Planning
  * phases carry no job group; they are attributed by time to the
  * innermost span of the op that contains them (the loop is closed and
  * single-threaded, so exactly one op is open at a time). */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  var op: Int = -1
  private val nanoToEpochMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private def nowMs: Double = System.nanoTime() / 1e6 + nanoToEpochMs

  val jobs = ArrayBuffer[JobRec]()
  val stages = ArrayBuffer[StageRec]()
  val phases = ArrayBuffer[PhaseRec]()
  private val stageGroups = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private val listener = new SparkListener {
    private def group(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += JobRec(e.jobId, group(e.properties), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageGroups.put(e.stageInfo.stageId, group(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val rec = StageRec(i.stageId, Option(stageGroups.get(i.stageId)).getOrElse(""),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      stages.synchronized { stages += rec }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ps = qe.tracker.phases.map { case (n, s) => PhaseRec(n, s.startTimeMs, s.endTimeMs) }
      phases.synchronized { phases ++= ps }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  private def codegen: (Long, Long) =
    (CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op, name, nowMs)
      spans += s
      stack = s :: stack
      val (cg0, n0) = codegen
      spark.sparkContext.setJobGroup(s"span-${s.id}", name)
      try body
      finally {
        val (cg1, n1) = codegen
        s.end = nowMs
        s.codegenNs = cg1 - cg0
        s.compiles = n1 - n0
        stack = stack.tail
        stack.headOption match {
          case Some(p) => spark.sparkContext.setJobGroup(s"span-${p.id}", p.name)
          case None => spark.sparkContext.clearJobGroup()
        }
      }
    }

  /** Waits until the listener bus has delivered every event posted so
    * far, so job, stage and planning records are complete. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchbridge.ListenerBus.drain(spark.sparkContext)

  // ---- reading the records back ----

  /** Spans of op `i` whose name starts with `prefix`, outermost first. */
  def opSpans(i: Int, prefix: String): Seq[Span] =
    spans.toSeq.filter(s => s.op == i && s.name.startsWith(prefix))

  private def descendants(s: Span): Set[Int] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids.map(_.id).toSet ++ kids.flatMap(descendants)
  }

  /** Jobs run while `s` or a span inside it was innermost. */
  def jobsOf(s: Span): Seq[JobRec] = {
    val ids = (descendants(s) + s.id).map(i => s"span-$i")
    jobs.synchronized(jobs.toSeq).filter(j => ids(j.group) && j.end >= 0)
  }

  def stagesOf(s: Span): Seq[StageRec] = {
    val ids = (descendants(s) + s.id).map(i => s"span-$i")
    stages.synchronized(stages.toSeq).filter(st => ids(st.group))
  }

  /** Total planning-phase milliseconds (analysis, optimization,
    * planning) per phase name inside the wall interval of `s`. */
  def phasesOf(s: Span): Map[String, Double] =
    phases.synchronized(phases.toSeq)
      .filter(p => p.start >= s.start - 1 && p.end <= s.end + 1)
      .groupBy(_.phase).map { case (k, v) => k -> v.map(p => (p.end - p.start) / 1000.0).sum }
}

/** Interval arithmetic over epoch-millisecond intervals. */
object Intervals {
  /** Seconds covered by the union of `iv`, clipped to [lo, hi]. */
  def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total / 1000.0
  }
}
