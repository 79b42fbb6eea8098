package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ingest.IngestOps
import graft.operators.MergeOps
import graft.sources.LakeTable

/** card_refresh: the reference's keyed refresh loop and the reads it
  * feeds. Each op reads one JSONL card batch with the 68-column card
  * schema, runs graft's ingest on it and upserts it into a graftlake
  * table with one SQL MERGE INTO; a batch with retractions is followed
  * by a DELETE FROM, and every `CompactEvery`-th op also compacts the
  * table. Then the op reads: a stats-pruned key-range `LakeTable.scan`
  * of the batch's keys at the new version, an aggregate over
  * `LakeTable.read` as of the version before the op, and one relational
  * `SparkEntry.queries` entry, each entry of `Reads` in turn. */
final class CardRefresh(ctx: Ctx) extends Workload {
  import ctx._

  private val Sizes = Gen.CardBatches(base = 10000, batches = 10, updates = 100,
    inserts = 20, retractEvery = 4, retracts = 3)
  private val CompactEvery = 3
  private val Reads = Seq("q_cards_per_set", "q5_local_supplier", "q_window_topk")
  override def round: Int = CompactEvery
  private val Warmup = 1
  private val entries = new Entries(ctx, "card_refresh.oracle")

  private val table = s"$data/lake/cards"
  private def batchDir(b: Int) = s"$data/batches/batch=$b"
  private def retracted(b: Int): Seq[String] = Gen.lines(s"$data/batches/retract/batch=$b")
  private def batchOf(i: Int) = i + Warmup

  /** (id, USD price or null) of every card in batch `b`. */
  private def batchPrices(b: Int): Seq[(String, String)] = {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    Gen.lines(batchDir(b)).map { l =>
      val card = json.readTree(l)
      val usd = card.path("prices").path("usd")
      (card.get("id").asText, if (usd.isTextual) usd.asText else null)
    }
  }

  /** Batches in the order they were applied, with their retractions. */
  private val applied = mutable.ArrayBuffer[(Int, Seq[String])]()
  /** Per timed op: the as-of version it read and its result hash. */
  private val asOfReads = mutable.ArrayBuffer[(Int, String)]()
  private var version = 0
  private var startBytes = 0L
  private var inputBytes = 0L

  def maxOps: Int = Sizes.batches - Warmup

  def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.lake", classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.warehouse", s"$data/lake")
    applied.clear()
    asOfReads.clear()
    phase("generate") {
      Gen.cardBatches(spark, s"$data/batches", seed, Sizes)
      Gen.starTables(spark, data, seed, Gen.Star)
    }
    phase("create") {
      Gen.cardsBase(spark, Sizes.base).createOrReplaceTempView("cards_base")
      spark.sql("CREATE TABLE lake.cards TBLPROPERTIES ('keys'='id') AS SELECT * FROM cards_base")
      spark.catalog.dropTempView("cards_base")
    }
    version = LakeTable.latestVersion(table)
  }

  /** The warm-up refreshes, then every read of an op once. */
  def warmup(): Unit = {
    (0 until Warmup).foreach(w => refresh(-1 - w, w))
    readBack(batchPrices(Warmup - 1).map(_._1))
    Gen.asOfAgg(LakeTable.read(spark, table, Some(version - 1))).collect()
    Reads.foreach(e => entries.check(e, entries.run(e), "warm-up"))
  }

  /** One refresh: ingest, MERGE, optional DELETE and compaction. */
  private def refresh(i: Int, b: Int): Unit = {
    val gone = retracted(b)
    // planted fault: merge the next batch in place of this one
    val src = if (faulty("card_refresh.wrong_batch") && i == 1) b + 1 else b
    val parsed = tr.span("ingest.plan") {
      IngestOps.ingestParsedCards(spark.read.schema(IngestOps.CardSchema).json(batchDir(src)))
    }
    parsed.createOrReplaceTempView("card_batch")
    tr.span("lakedml.merge") {
      spark.sql("""MERGE INTO lake.cards AS t USING card_batch AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    var statements = 1
    if (gone.nonEmpty) {
      tr.span("lakedml.delete") {
        spark.sql(s"DELETE FROM lake.cards WHERE id IN (${gone.map(k => s"'$k'").mkString(", ")})")
      }
      statements += 1
    }
    if (i >= 0 && (i + 1) % CompactEvery == 0) {
      tr.span("lake.compact") { LakeTable.compact(spark, table, 4) }
      statements += 1
    }
    applied += ((b, gone))
    version += statements
  }

  override def beforeLoop(): Unit = {
    startBytes = Workload.du(table)
    inputBytes = 0L
  }

  /** The key-range scan of `keys` at the latest version: (version,
    * live files, key range, id -> USD price as read). */
  private def readBack(keys: Seq[String]) = tr.span("entry.lake_key_scan") {
    val (v, m) = tr.span("lake.meta") {
      val v = LakeTable.latestVersion(table)
      (v, LakeTable.manifest(table, v))
    }
    val (lo, hi) = (keys.min, keys.max) // ASCII ids: String order is byte order
    val seen = tr.span("lake.read") {
      LakeTable.scan(spark, table, "id", lo, hi, Some(v)).filter(col("id").isin(keys: _*))
        .select(col("id"), col("price_usd").cast("string")).collect()
        .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    }
    (v, m, (lo, hi), seen)
  }

  def op(i: Int): OpOut = {
    val b = batchOf(i)
    val before = if (tr.enabled) Workload.du(table) else 0L
    val asOf = version
    val e = Reads(i % Reads.size)
    val prices = batchPrices(b)
    val gone = retracted(b)
    val t0 = System.nanoTime()
    val (scan, asOfRows, rel) = tr.span("op") {
      refresh(i, b)
      // planted fault: a commit the op does not account for
      if (faulty("card_refresh.extra_commit") && i == 1) LakeTable.compact(spark, table, 4)
      val scan = readBack(prices.map(_._1) ++ gone)
      val asOfRows = tr.span("entry.lake_asof_agg") {
        tr.span("lake.read") { Gen.asOfAgg(LakeTable.read(spark, table, Some(asOf))).collect().toSeq }
      }
      (scan, asOfRows, tr.span(s"entry.$e") { entries.run(e) })
    }
    val latency = (System.nanoTime() - t0) / 1e9
    val (v, m, (lo, hi), seen) = scan
    // read-back: the batch's rows carry its prices and its retracted
    // keys are gone
    val readBackProblems = prices.collect {
      case (id, usd) if !seen.get(id).contains(Option(usd).map(p => BigDecimal(p).setScale(2).toString)) =>
        s"op $i: $id reads ${seen.get(id).map(_.orNull).getOrElse("no row")}, batch price $usd"
    } ++ gone.filter(seen.contains).map(id => s"op $i: retracted $id still present")
    // planted fault: an as-of read that returns one row too few
    asOfReads += ((asOf, Workload.rowsHash(if (faulty("card_refresh.asof_read") && i == 1) asOfRows.drop(1) else asOfRows)))
    val rows = prices.size.toLong
    inputBytes += Workload.du(batchDir(b)) + Workload.du(s"$data/batches/retract/batch=$b")
    if (tr.enabled) {
      sample("lake.pruned_ratio", LakeTable.prunedEntries(table, v, "id", lo, hi)._1.size.toDouble / m.files.size)
      sample("lake.live_files", m.files.size)
      sample("lake.log_records", Option(new java.io.File(s"$table/_log").list).map(_.length).getOrElse(0).toDouble)
      sample("lake.bytes_written", Workload.du(table) - before)
      sample("ingest.rows", rows)
    }
    val problems = readBackProblems ++ entries.check(e, rel, s"op $i") ++
      (if (v == version) Seq.empty
       else Seq(s"op $i: table is at version $v, expected $version (one version per statement)"))
    OpOut(latency, rows, problems, e)
  }

  override def endState(): Map[String, Double] = {
    val v = LakeTable.latestVersion(table)
    val live = LakeTable.manifestFiles(table, v).map { p =>
      val f = new java.io.File(p.stripPrefix("file:"))
      if (f.isAbsolute) f.length else new java.io.File(s"$table/$p").length
    }.sum
    Map("write_amp" -> (Workload.du(table) - startBytes).toDouble / inputBytes,
      "space_amp" -> Workload.du(table).toDouble / live)
  }

  /** The lake-free reference: graft's `MergeOps.upsert` folded over the
    * same ingested batches, minus the retracted keys, starting from the
    * same base corpus. Returns the final state and the as-of aggregate's
    * hash over the state each timed op started from. */
  private def reference(): (DataFrame, Seq[String]) = {
    var state = Gen.cardsBase(spark, Sizes.base)
    val asOf = mutable.ArrayBuffer[String]()
    applied.zipWithIndex.foreach { case ((b, gone), k) =>
      if (k >= Warmup) asOf += Workload.rowsHash(Gen.asOfAgg(state).collect().toSeq)
      val batch = IngestOps.ingestParsedCards(spark.read.schema(IngestOps.CardSchema).json(batchDir(b)))
      state = MergeOps.upsert(state, batch, Seq("id"))
      if (gone.nonEmpty) state = state.filter(!col("id").isin(gone: _*))
      // bound the plan: materialize every other fold
      if (k % 2 == 1) { state = state.cache(); state.count() }
    }
    (state, asOf.toSeq)
  }

  override def finalCheck(ops: Int): Seq[String] = {
    val (ref, asOf) = reference()
    val want = Workload.stateHash(ref)
    val got = Workload.stateHash(LakeTable.read(spark, table))
    spark.sqlContext.clearCache()
    val history = LakeTable.history(table)
    asOfReads.zip(asOf).zipWithIndex.collect {
      case (((v, got), want), j) if got != want =>
        s"op $j: as-of read of version $v $got differs from the lake-free reference $want"
    }.toSeq ++ Seq(
      if (got == want) None
      else Some(s"final snapshot $got differs from the lake-free reference $want"),
      if (history.map(_._1) == (1 to version)) None
      else Some(s"history has versions ${history.map(_._1).mkString(",")}, expected 1..$version")
    ).flatten
  }

  override def oracle(): Seq[(String, String, String)] = entries.oracle()

  override def traceExtras(ops: Int): Map[String, Double] = {
    val bs = applied.drop(Warmup).map(_._1).distinct
    val parsed = IngestOps.ingestParsedCards(
      spark.read.schema(IngestOps.CardSchema).json(bs.map(batchDir).toSeq: _*))
    val r = parsed.agg(count(lit(1)),
      sum(when(!col("layout_valid") || (col("released_at").isNotNull && col("released_date").isNull), 1)
        .otherwise(0))).head()
    Map("ingest.invalid_rows" -> r.getLong(1).toDouble / math.max(1, bs.size))
  }
}
