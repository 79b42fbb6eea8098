package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.FormattedMode

/** Profile named entries on the benched session ([[Bench.session]]), so
  * the audited plan is the plan that was benched. For each entry: the
  * formatted physical plan (every scan's ReadSchema / PushedFilters
  * included), then one run through the `noop` sink with its wall time and
  * Spark job chain — per job: wall, stage and task counts, SQL execution
  * id and callsite. Barrier-bound entries show here as long chains of
  * short jobs: the lever is the number of sequential jobs, not the
  * per-task work.
  *
  * Usage: runMain graft.Profile <sfDir> <query[,query...]>
  */
object Profile {
  private final case class Job(id: Int, desc: String, t0: Long,
      nStages: Int, nTasks: Int, var t1: Long = 0)

  def main(args: Array[String]): Unit = {
    val Array(dir, names) = args
    val spark = Bench.session("graft-profile")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        // group by SQL execution id: every broadcast-build future job
        // carries its parent ACTION's execution id — one action is one
        // driver barrier
        val exec = prop("spark.sql.execution.root.id")
          .orElse(prop("spark.sql.execution.id")).getOrElse("-")
        val site = prop("callSite.short").filterNot(_.contains("CompletableFuture"))
          .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse("?")
        jobs.put(e.jobId, Job(e.jobId, f"ex=$exec%-4s $site", e.time,
          e.stageInfos.size, e.stageInfos.map(_.numTasks).sum))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    })

    for (name <- names.split(",")) {
      try {
        jobs.clear()
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
        import scala.jdk.CollectionConverters._
        val js = jobs.values.asScala.toSeq.sortBy(_.id)
        println(f"== $name: wall=$wall%.2f s, jobs=${js.size}")
        js.foreach { j =>
          println(f"   job ${j.id}%3d  ${(j.t1 - j.t0) / 1000.0}%7.3f s  " +
            f"st=${j.nStages}%2d tk=${j.nTasks}%4d  ${j.desc.take(100)}")
        }
      } catch {
        case e: Exception => println(s"== $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
