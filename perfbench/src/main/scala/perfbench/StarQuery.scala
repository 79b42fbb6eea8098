package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ingest.IngestOps
import graft.operators.MergeOps
import graft.sources.LakeTable

/** star_query: the analyst side of the star schema. Each op runs one
  * member of a fixed mix: seven relational `SparkEntry.queries` entries
  * over generated star tables, and three reads of a graftlake `cards`
  * table whose history holds a merge and deletion-vector deletes.
  * Nothing in the loop commits. */
final class StarQuery(ctx: Ctx) extends Workload {
  import ctx._

  /** The table's history: a MERGE of the first `HistoryMerges` batches
    * and a deletion-vector DELETE for every batch. */
  private val History = Gen.CardBatches(base = 5000, batches = 2, updates = 100,
    inserts = 20, retractEvery = 1, retracts = 8)
  private val HistoryMerges = 1

  val Relational = Seq("q1_pricing_summary", "q5_local_supplier", "q9_product_profit",
    "q21_waiting_orders", "q_window_topk", "q_cards_per_set", "json_extract")
  val LakeReads = Seq("lake_sets_agg", "lake_key_scan", "lake_asof_agg")
  val Mix: Seq[String] = Relational ++ LakeReads
  override def round: Int = Mix.size
  def maxOps: Int = Int.MaxValue

  private val table = s"$data/lake/cards"
  private val rnd = new scala.util.Random(seed)
  private val prefix = 10 + rnd.nextInt(40)
  private val (lo, hi) = (s"card-$prefix", s"card-$prefix~")
  private val asOfBatch = rnd.nextInt(History.batches - 1)
  private var asOf = 0
  /** Expected result per lake read: the lake-free reference. */
  private val expected = mutable.Map[String, String]()
  private val entries = new Entries(ctx, "star_query.oracle")

  private val SetsAgg =
    """SELECT s.code, s.name, count(*) AS n_cards, sum(c.price_usd) AS usd
      |FROM %s c JOIN sets s ON c.`set` = s.code
      |GROUP BY s.code, s.name""".stripMargin

  def setup(): Unit = {
    spark.conf.set("spark.sql.catalog.lake", classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.lake.warehouse", s"$data/lake")
    expected.clear()
    phase("generate") {
      Gen.starTables(spark, data, seed, Gen.Star)
      Gen.cardBatches(spark, s"$data/history", seed, History)
    }
    // the ingested base corpus, kept for the lake-free reference
    val base = Gen.cardsBase(spark, History.base).cache()
    phase("create") {
      base.createOrReplaceTempView("cards_base")
      spark.sql("CREATE TABLE lake.cards TBLPROPERTIES ('keys'='id') AS SELECT * FROM cards_base")
      spark.catalog.dropTempView("cards_base")
    }
    // the table's history, and its lake-free reference next to it
    var ref = base
    var refAsOf: DataFrame = null
    phase("history") {
      (0 until History.batches).foreach { b =>
        if (b < HistoryMerges) {
          val batch = IngestOps.ingestParsedCards(
            spark.read.schema(IngestOps.CardSchema).json(s"$data/history/batch=$b"))
          batch.createOrReplaceTempView("card_batch")
          spark.sql("""MERGE INTO lake.cards AS t USING card_batch AS s ON t.id = s.id
            |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ref = MergeOps.upsert(ref, batch, Seq("id"))
        }
        val gone = Gen.lines(s"$data/history/retract/batch=$b")
        spark.sql(s"DELETE FROM lake.cards WHERE id IN (${gone.map(k => s"'$k'").mkString(", ")})")
        ref = ref.filter(!col("id").isin(gone: _*))
        if (b == asOfBatch) { refAsOf = ref; asOf = LakeTable.latestVersion(table) }
      }
      spark.catalog.dropTempView("card_batch")
    }
    phase("reference") {
      IngestOps.setsCorpus(spark).createOrReplaceTempView("sets")
      ref.createOrReplaceTempView("cards_ref")
      expected("lake_sets_agg") = Workload.rowsHash(spark.sql(SetsAgg.format("cards_ref")).collect().toSeq)
      expected("lake_key_scan") = Workload.rowsHash(
        ref.filter(col("id").between(lo, hi)).collect().toSeq)
      expected("lake_asof_agg") = Workload.rowsHash(Gen.asOfAgg(refAsOf).collect().toSeq)
      spark.catalog.dropTempView("cards_ref")
      base.unpersist()
    }
  }

  /** Every mix member once; the relational first results become the
    * expected results the DuckDB oracle checks after the run. */
  def warmup(): Unit = Mix.foreach { e =>
    val rows = run(e)
    if (Relational.contains(e)) entries.check(e, rows, "warm-up")
  }

  private def run(e: String): Seq[Row] = tr.span(s"entry.$e") {
    e match {
      case "lake_sets_agg" =>
        tr.span("lake.read") { spark.sql(SetsAgg.format("lake.cards")).collect().toSeq }
      case "lake_key_scan" =>
        val v = tr.span("lake.meta") {
          val v = LakeTable.latestVersion(table)
          val (kept, total) = LakeTable.prunedEntries(table, v, "id", lo, hi)
          sample("lake.pruned_ratio", kept.size.toDouble / total)
          sample("lake.live_files", total)
          v
        }
        tr.span("lake.read") { LakeTable.scan(spark, table, "id", lo, hi, Some(v)).collect().toSeq }
      case "lake_asof_agg" =>
        tr.span("lake.meta") { LakeTable.manifest(table, asOf) }
        tr.span("lake.read") { Gen.asOfAgg(LakeTable.read(spark, table, Some(asOf))).collect().toSeq }
      case q => entries.run(q)
    }
  }

  /** The mix member of op i: each round runs every member once, in an
    * order drawn from the seed. */
  private def entryOf(i: Int): String =
    new scala.util.Random(seed * 1000003L + i / round).shuffle(Mix).apply(i % round)

  def op(i: Int): OpOut = {
    val e = entryOf(i)
    val t0 = System.nanoTime()
    val rows = tr.span("op") { run(e) }
    val latency = (System.nanoTime() - t0) / 1e9
    val problems = if (Relational.contains(e)) entries.check(e, rows, s"op $i") else {
      // planted fault: a lake read that returns one row too few
      val got = Workload.rowsHash(if (faulty("star_query.lake_read") && e == "lake_key_scan") rows.drop(1) else rows)
      if (got == expected(e)) Seq.empty else Seq(s"op $i ($e): result $got, expected ${expected(e)}")
    }
    OpOut(latency, rows.size.toLong, problems, e)
  }

  override def oracle(): Seq[(String, String, String)] = entries.oracle()
}
