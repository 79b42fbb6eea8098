package graft

import org.apache.spark.sql.functions._

/** Slope probe for the O(delta) change feed (VERDICT r13 ask #1's
  * "done" evidence): hold the DELTA fixed (one merge touching the same
  * number of keys/files) while the TABLE grows 10x, and time
  * `LakeTable.changes` between the two versions. An O(delta) feed is
  * ~flat in table size; the r13 snapshot-diff implementation it
  * replaced was O(table) by construction (two full snapshot scans +
  * one keyed shuffle of every row). Numbers land in BASELINE.md.
  *
  * Synthetic input (spark.range, not the sf tables) so the x10 point
  * isn't bounded by testdata size and both points have identical file
  * granularity; the feed's cost driver is (churned files + their
  * rows), which this holds constant.
  *
  * Usage: sbt "runMain graft.CdcSlope"
  */
object CdcSlope {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("graft-cdc-slope")
    import graft.sources.LakeTable

    val baseRows = sys.env.getOrElse("SPARK_GRAFT_CDC_BASE", "200000").toLong
    for (mult <- Seq(1L, 10L)) {
      val n = baseRows * mult
      val path = s"/tmp/graft_cdc_slope_x$mult"
      LakeTable.deleteRecursively(new java.io.File(path))
      val df = spark.range(n).select(col("id").as("k"),
        (col("id") % 97).cast("string").as("s"), (col("id") * 3).as("v"))
      // the honest 100 TB model: file SIZE stays ~constant (here ~3125
      // rows) and file COUNT grows with the table — a fixed bucket count
      // would grow every file 10x and hide table-size leaks inside the
      // "same" touched-file count. Range layout so a key-local batch
      // touches O(batch / file-size) files at every scale.
      val nBuckets = math.max(8, (n / 3125).toInt)
      LakeTable.create(spark, path, df, Seq("k"), nBuckets, layout = "range")
      // FIXED delta: 2000 contiguous interior keys — the same key churn
      // and ~the same touched-file count at both scales
      val batch = spark.range(50000, 52000).select(col("id").as("k"),
        lit("upd").as("s"), lit(-1L).as("v"))
      LakeTable.merge(spark, path, batch, Seq("k"))
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        val cnt = LakeTable.changes(spark, path, 1, 2, Seq("k")).count()
        ((System.nanoTime() - t0) / 1e9, cnt)
      }
      val churned = {
        val f1 = LakeTable.manifestFiles(path, 1).toSet
        val f2 = LakeTable.manifestFiles(path, 2).toSet
        (f1 -- f2).size + (f2 -- f1).size
      }
      println(f"""{"probe":"cdc_slope","mult":$mult,"rows":$n,"changes":${times.head._2},""" +
        f""""churned_files":$churned,"feed_sec_min":${times.map(_._1).min}%.3f}""")
      LakeTable.deleteRecursively(new java.io.File(path))
    }
    spark.stop()
  }
}
