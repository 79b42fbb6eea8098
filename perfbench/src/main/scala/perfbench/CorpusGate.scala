package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions
import graft.sources.{AnnIndexStore, DedupIndexStore}

/** corpus_gate: the LLM-data ingest gate over maintained index stores.
  * Each op probes a document batch against the MinHash/LSH dedup index,
  * appends the documents it found novel, appends a vector batch to the
  * IVF+PQ index and serves top-10 for graft's planted queries from the
  * store. Every `CompactEvery`-th op also compacts both stores, so
  * fragments pile up between compactions. */
final class CorpusGate(ctx: Ctx) extends Workload {
  import ctx._

  private val Sizes = Gen.CorpusSizes(docs = 1000, vectors = 1000, batches = 10,
    nearDups = 10, novel = 20, batchVectors = 50, plantedCopies = 2)
  private val CompactEvery = 2
  override def round: Int = CompactEvery
  private val Warmup = 1
  private val PlantedOffset = 1000000L

  private val dedup = s"$data/stores/dedup"
  private val ann = s"$data/stores/ann"
  private val docDir = s"$data/docbatches"
  private val vecDir = s"$data/vecbatches"
  private def stores = Workload.du(dedup) + Workload.du(ann)

  /** Texts of every document the dedup index holds, by doc_id. */
  private val texts = mutable.Map[Long, String]()
  /** Per batch: (doc_id, text, kind, src) rows the checks read. */
  private var truth = Map.empty[Int, Seq[(Long, String, String, Long)]]
  /** Per batch: (vec_id, source vec_id) of every vector. */
  private var vecTruth = Map.empty[Int, Seq[(Long, Long)]]
  /** vec_ids of the copies of each corpus vector appended so far. */
  private val copies = mutable.Map[Long, Set[Long]]().withDefaultValue(Set.empty)
  private var startBytes = 0L
  private var inputBytes = 0L

  def maxOps: Int = Sizes.batches - Warmup

  def setup(): Unit = {
    texts.clear()
    copies.clear()
    val (base, batchDocs, batchVecs) = phase("generate") { Gen.corpus(spark, data, docDir, vecDir, seed, Sizes) }
    truth = batchDocs.groupBy(_.batch).map { case (b, ds) => b -> ds.map(d => (d.docId, d.text, d.kind, d.src)) }
    vecTruth = batchVecs.groupBy(_.batch).map { case (b, vs) => b -> vs.map(v => (v.vecId, v.src)) }
    texts ++= base
    phase("dedup_write") {
      DedupIndexStore.write(spark, data, dedup, Tables.documents(spark, data).select("doc_id", "text"))
    }
    phase("ann_write") { AnnIndexStore.write(spark, data, ann) }
  }

  def warmup(): Unit = (0 until Warmup).foreach(b => gate(-1 - b, b))

  private def docs(b: Int): DataFrame = spark.read.parquet(s"$docDir/batch=$b")
  private def vecs(b: Int): DataFrame = spark.read.parquet(s"$vecDir/batch=$b")

  /** One gate pass over batch `b`; returns the probe's reported pairs
    * (doc_id, base_id) and the served (query_id, rank, vec_id) rows. */
  private def gate(i: Int, b: Int): (Seq[(Long, Long)], Seq[(Long, Long, Long)]) = {
    val batch = docs(b).select("doc_id", "text")
    val pairs = tr.span("dedupindex.probe") {
      DedupIndexStore.probe(spark, data, dedup, batch).select("doc_id", "base_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val dupIds = pairs.map(_._1).distinct
    // planted fault: the gate rejects one novel document
    val rejected = if (faulty("corpus_gate.reject_novel") && i == 1)
      dupIds :+ truth(b).find(_._3 == "novel").get._1 else dupIds
    val novel = batch.filter(!col("doc_id").isin(rejected: _*))
    // planted faults: an append that does nothing
    if (!(faulty("corpus_gate.skip_dedup_append") && i == 0))
      tr.span("dedupindex.append") { DedupIndexStore.append(spark, data, dedup, novel) }
    if (!(faulty("corpus_gate.skip_ann_append") && i == 0))
      tr.span("annindex.append") { AnnIndexStore.append(spark, data, ann, vecs(b).select("vec_id", "vec")) }
    vecTruth(b).foreach { case (v, src) => copies(src) += v }
    val served = tr.span("annindex.serve") {
      AnnIndexStore.serve(spark, data, ann).select("query_id", "rank", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    if (i >= 0 && (i + 1) % CompactEvery == 0) {
      tr.span("dedupindex.compact") { DedupIndexStore.compactIndex(spark, data, dedup) }
      tr.span("annindex.compact") { AnnIndexStore.compactIndexFiles(spark, data, ann) }
    }
    val rejectedSet = rejected.toSet
    truth(b).filterNot(d => rejectedSet(d._1)).foreach(d => texts(d._1) = d._2)
    (pairs, served)
  }

  override def beforeLoop(): Unit = {
    startBytes = stores
    inputBytes = 0L
  }

  def op(i: Int): OpOut = {
    val b = i + Warmup
    val t0 = System.nanoTime()
    val (pairs0, served) = tr.span("op") { gate(i, b) }
    val latency = (System.nanoTime() - t0) / 1e9
    val batch = truth(b)
    // planted faults: a missed near-duplicate, a pair that does not verify
    val pairs =
      if (faulty("corpus_gate.drop_pair") && i == 1) pairs0.filterNot(_._1 == batch.find(_._3 == "dup").get._1)
      else if (faulty("corpus_gate.bogus_pair") && i == 1) pairs0 :+ ((batch.find(_._3 == "novel").get._1, 0L))
      else pairs0
    val problems = mutable.ArrayBuffer[String]()
    pairs.foreach { case (d, base) =>
      val j = Jaccard.of(batch.find(_._1 == d).map(_._2).getOrElse(""), texts.getOrElse(base, ""))
      if (j < 0.5) problems += f"op $i: reported pair ($d, $base) has exact Jaccard $j%.3f < 0.5"
    }
    val reported = pairs.toSet
    batch.filter(_._3 == "dup").foreach { d =>
      if (!reported((d._1, d._4))) problems += s"op $i: planted near-duplicate ${d._1} of ${d._4} not caught" +
        (if (d._4 >= Gen.BatchDocBase) " (an appended document)" else "")
    }
    batch.filter(_._3 == "novel").foreach { d =>
      if (!texts.contains(d._1)) problems += s"op $i: rotated document ${d._1} not admitted"
    }
    served.filter(_._2 == 1L).foreach { case (q, _, v) =>
      if (v != q - PlantedOffset) problems += s"op $i: query $q served $v at rank 1, not its source"
    }
    // every appended copy of a planted query's source is served in its top-10
    served.groupBy(_._1).foreach { case (q, rows) =>
      val missing = copies(q - PlantedOffset) -- rows.map(_._3)
      if (missing.nonEmpty)
        problems += s"op $i: query $q misses appended copies ${missing.toSeq.sorted.mkString(",")} of its source"
    }
    if (served.isEmpty) problems += s"op $i: serve returned no rows"
    inputBytes += Workload.du(s"$docDir/batch=$b") + Workload.du(s"$vecDir/batch=$b")
    if (tr.enabled) {
      sample("dedupindex.fragments", DedupIndexStore.postingsFragments(dedup))
      sample("annindex.fragments", AnnIndexStore.codesFragments(ann))
      sample("dedupindex.pairs", pairs0.size)
      sample("dedupindex.novel_ratio", batch.count(d => texts.contains(d._1)).toDouble / batch.size)
    }
    OpOut(latency, batch.size.toLong + Sizes.batchVectors, problems.toSeq)
  }

  override def endState(): Map[String, Double] =
    Map("write_amp" -> (stores - startBytes).toDouble / inputBytes)

  /** Rows per second of the five native kernels, each run through the
    * noop sink on the batch columns this run consumed (replicated to a
    * fixed row count so a job's fixed cost does not dominate). */
  override def traceExtras(ops: Int): Map[String, Double] = {
    val bs = (Warmup until Warmup + ops).map(b => s"$docDir/batch=$b")
    val vs = (Warmup until Warmup + ops).map(b => s"$vecDir/batch=$b")
    val target = 20000L
    def grow(df: DataFrame): DataFrame = {
      val n = df.count()
      df.crossJoin(spark.range((target + n - 1) / n)).drop("id").limit(target.toInt).cache()
    }
    val text = grow(spark.read.parquet(bs: _*).select("text"))
    val vec = grow(spark.read.parquet(vs: _*).select("vec_id", "vec"))
    val tok = text.select(GraftFunctions.wsTokenize(col("text")).as("tok")).cache()
    val sh = tok.select(GraftFunctions.shingleHash64(col("tok"), 3).as("sh")).cache()
    val adc = vec.select(
      transform(sequence(lit(0), lit(7)), k => pmod(xxhash64(col("vec_id"), k), lit(16)).cast("int")).as("codes"),
      concat(col("vec"), col("vec")).as("table")).cache()
    Seq(text, vec, tok, sh, adc).foreach(_.count())
    def rate(df: DataFrame): Double = {
      val times = (1 to 3).map { _ =>
        ctx.timed(df.write.format("noop").mode("overwrite").save())._2
      }.sorted
      df.count().toDouble / times(1) // median of three
    }
    val out = Map(
      "functions.WsTokenize.rows_per_s" -> rate(text.select(GraftFunctions.wsTokenize(col("text")))),
      "functions.ShingleHash64.rows_per_s" -> rate(tok.select(GraftFunctions.shingleHash64(col("tok"), 3))),
      "functions.MinHashSignature.rows_per_s" -> rate(sh.select(GraftFunctions.minHashSig(col("sh"), 64))),
      "functions.AdcLookup.rows_per_s" -> rate(adc.select(GraftFunctions.adcLookup(col("codes"), col("table"), 16))),
      "functions.CosineSimilarity.rows_per_s" -> rate(vec.select(GraftFunctions.cosineSim(col("vec"), reverse(col("vec"))))))
    Seq(text, vec, tok, sh, adc).foreach(_.unpersist())
    out
  }
}

/** Exact Jaccard of two documents' word 3-gram sets — the similarity
  * graft's dedup index approximates (whitespace tokens, shingle width 3,
  * threshold 0.5). */
object Jaccard {
  def shingles(text: String): Set[String] = {
    val w = text.trim.split("\\s+").filter(_.nonEmpty)
    if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }
  def of(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = (x intersect y).size
    inter.toDouble / (x.size + y.size - inter)
  }
}
