package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs; sf0.001 testdata keeps suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  val SfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = GraftSession(getClass.getSimpleName)

  override def afterAll(): Unit = {
    // one JVM per sbt test run (fork := true); keep the session for speed
    super.afterAll()
  }

  /** Non-vacuity guard for oracle-gated queries: a predicate that matches
    * zero rows would hash-match an empty oracle result and pass the
    * correctness gate without verifying anything. */
  def assertNonEmpty(df: org.apache.spark.sql.DataFrame, what: String): Unit =
    assert(!df.isEmpty, s"$what returned zero rows — a vacuous oracle match")

  /** Spark jobs `body` launches, counted through its job group (jobs
    * that run on helper threads, like broadcast builds, inherit it). */
  def sparkJobs(body: => Unit): Int = sparkJobSites(body).size

  /** The call site of each Spark job `body` launches, in submission
    * order ([[graft.Profile.JobChain]]'s attribution). */
  def sparkJobSites(body: => Unit): Seq[String] = {
    val group = s"spec-jobs-${java.util.UUID.randomUUID()}"
    val chain = new graft.Profile.JobChain
    spark.sparkContext.addSparkListener(chain)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      org.apache.spark.graftbridge.ListenerBus.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(chain)
    chain.chain(Some(group)).map(_.site)
  }

  /** Parquet part files under a lake table's directory, found by walking
    * the disk rather than by reading the table's log. */
  def partFilesOnDisk(table: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(
      java.nio.file.Paths.get(graft.sources.LakeIo.normKey(table)))
    try walk.iterator().asScala.map(_.toString)
      .filter(f => f.endsWith(".parquet") && f.split('/').last.startsWith("part-")).toSet
    finally walk.close()
  }

  /** Values of the long column `c` in every part file under `tables`,
    * read straight from disk — past the manifest, so a file a commit
    * dropped but left on disk still counts. */
  def longsOnDisk(tables: Seq[String], c: String): Set[Long] =
    tables.flatMap { t =>
      val files = partFilesOnDisk(t).toSeq
      if (files.isEmpty) Seq.empty
      else spark.read.parquet(files: _*).select(c).collect().map(_.getLong(0)).toSeq
    }.toSet

  /** Every part file on disk under `table` is one its live manifest
    * references: no orphan and no replaced file survived. */
  def assertOnlyLiveFiles(table: String): Unit = {
    import graft.sources.{LakeIo, LakeTable}
    val live = LakeTable.manifest(table, LakeTable.latestVersion(table))
      .filePaths.map(LakeIo.normKey).toSet
    val disk = partFilesOnDisk(table)
    assert(disk == live, s"$table: on disk but unreferenced ${(disk -- live).mkString(", ")}; " +
      s"referenced but missing ${(live -- disk).mkString(", ")}")
  }
}
