package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Profile named entries on the benched session ([[Bench.session]]), so
  * the audited plan is the plan that was benched. For each entry: the
  * formatted physical plan (every scan's ReadSchema / PushedFilters
  * included), then one run through the `noop` sink with its wall time and
  * Spark job chain — per job: wall, stage and task counts, SQL execution
  * id and callsite. Barrier-bound entries show here as long chains of
  * short jobs: the lever is the number of sequential jobs, not the
  * per-task work. After each entry, the session state it leaves behind:
  * the temp views registered so far and the block-manager bytes pinned
  * by cached and checkpointed RDDs.
  *
  * Usage: runMain graft.Profile <sfDir> <query[,query...]>
  */
object Profile {
  private[graft] final case class Job(id: Int, exec: String, site: String, t0: Long,
      nStages: Int, nTasks: Int, group: Option[String], var t1: Long = 0)

  /** A listener recording every job with the graft call site that
    * launched it. A job's own `callSite.short` names the thread that
    * submitted it — for AQE stage and broadcast-build jobs that is a
    * pool thread (`... at CompletableFuture.java:…`) — so each SQL
    * execution id maps to the first `graft.` frame of its
    * [[SparkListenerSQLExecutionStart]] `details` (and that frame's
    * graft caller, which names the statement when the first frame is a
    * shared helper), and every job of the execution names them. */
  private[graft] final class JobChain extends SparkListener {
    private val sites = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val frames = Option(s.details).toSeq.flatMap(_.split("\n")).map(_.trim)
          .filter(_.startsWith("graft.")).map(frameSite)
        frames.headOption.foreach { f =>
          val caller = frames.find(c => c.takeWhile(_ != ' ') != f.takeWhile(_ != ' '))
          sites.put(s.executionId.toString, f + caller.map(c => s" <- $c").getOrElse(""))
        }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // group by ROOT execution id: one action is one driver barrier
      val exec = prop("spark.sql.execution.id")
      val root = prop("spark.sql.execution.root.id").orElse(exec).getOrElse("-")
      val site = exec.flatMap(x => Option(sites.get(x)))
        .orElse(prop("callSite.short").filterNot(_.contains("CompletableFuture")))
        .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?")
      jobs.put(e.jobId, Job(e.jobId, root, site, e.time,
        e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, prop("spark.jobGroup.id")))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)

    /** Recorded jobs in submission order (optionally one job group's). */
    def chain(group: Option[String] = None): Seq[Job] = {
      import scala.jdk.CollectionConverters._
      jobs.values.asScala.toSeq.filter(j => group.forall(j.group.contains)).sortBy(_.id)
    }
  }

  /** `graft.plans.LakeDml$.deleteRows(LakeDml.scala:212)` →
    * `LakeDml.deleteRows (LakeDml.scala:212)`. */
  private def frameSite(frame: String): String = {
    val paren = frame.indexOf('(')
    val method = if (paren < 0) frame else frame.substring(0, paren)
    val parts = method.split('.')
    val owner = parts.dropRight(1).lastOption.getOrElse("").stripSuffix("$")
    val name = parts.lastOption.getOrElse(method)
    s"$owner.$name" + (if (paren < 0) "" else s" ${frame.substring(paren)}")
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, names) = args
    val spark = Bench.session("graft-profile")
    val listener = new JobChain
    spark.sparkContext.addSparkListener(listener)

    for (name <- names.split(",")) {
      try {
        listener.jobs.clear()
        System.gc()
        // the entry's eager work (lake commits, cached builds) counts: it
        // is part of what Bench times
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        val built = System.nanoTime() - t0
        println(s"== $name: plan")
        println(df.queryExecution.explainString(FormattedMode))
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val wall = (built + System.nanoTime() - t1) / 1e9
        // let listener events drain (the listener bus is spark-private)
        Thread.sleep(300)
        val js = listener.chain()
        println(f"== $name: wall=$wall%.2f s, jobs=${js.size}")
        js.foreach { j =>
          println(f"   job ${j.id}%3d  ${(j.t1 - j.t0) / 1000.0}%7.3f s  " +
            f"st=${j.nStages}%2d tk=${j.nTasks}%4d  ex=${j.exec}%-4s ${j.site.take(160)}")
        }
        val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).sorted
        val pinned = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        println(f"== $name: session views=${views.length} [${views.mkString(", ")}], " +
          f"pinned=${pinned / 1048576.0}%.2f MB")
      } catch {
        case e: Exception => println(s"== $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
