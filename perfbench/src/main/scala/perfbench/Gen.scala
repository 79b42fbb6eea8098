package perfbench

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.IngestOps

/** The one seeded generator behind every file and DataFrame the
  * benchmark hands to graft. Every value is a pure function of
  * (seed, salt, row keys) through xxhash64, so the output does not
  * depend on partitioning or task order: the same seed writes
  * byte-identical files, and another seed writes other files.
  *
  * Numbers are chosen so that the relational oracles compare exactly:
  * prices are whole dollars, discounts whole percents and retail
  * prices tenths, so no rounded sum lands on a .xx5 halfway point. */
object Gen {

  /** Uniform integer in [0, n) keyed by the seed, a salt and `keys`. */
  def u(seed: Long, salt: String, n: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(n))

  private def pick(values: Seq[String], i: Column): Column =
    element_at(array(values.map(lit): _*), (i % values.size).cast("int") + 1)

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  // ---- star schema (the SparkEntry relational entries' tables) ----

  final case class StarSizes(customers: Long, suppliers: Long, parts: Long,
      orders: Long, lineitems: Long, events: Long)

  /** The star tables the relational entries run over. */
  val Star = StarSizes(customers = 1500, suppliers = 100, parts = 2000,
    orders = 15000, lineitems = 60000, events = 10000)

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val PartTypes = Seq("ECONOMY", "PROMO", "STANDARD", "LARGE", "SMALL")
  private val Colors = Seq("red", "green", "blue", "small", "large", "navy")
  private val Nouns = Seq("ring", "widget", "bolt", "gear", "panel")
  private val EventTypes = Seq("click", "view", "purchase", "error", "signup")

  /** Days since 1970-01-01 as a TIMESTAMP_NTZ midnight. */
  private def day(days: Column): Column =
    date_add(lit("1970-01-01").cast("date"), days.cast("int")).cast(TimestampNTZType)

  /** Writes region, nation, customer, supplier, part, orders, lineitem
    * and events under `dir` as `<name>.parquet` directories, the layout
    * `graft.Tables` loads. */
  def starTables(spark: SparkSession, dir: String, seed: Long, s: StarSizes): Unit = {
    val id = col("id")
    val d1992 = 8035L // 1992-01-01
    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      pick(Regions, id).as("r_name")), s"$dir/region.parquet")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")),
      s"$dir/nation.parquet")
    write(spark.range(s.customers).select(id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      u(seed, "c_nat", 25, id).cast("int").as("c_nationkey"),
      ((u(seed, "c_bal", 1100000, id) - 100000) / 100.0).as("c_acctbal"),
      pick(Segments, u(seed, "c_seg", 5, id)).as("c_mktsegment")),
      s"$dir/customer.parquet")
    write(spark.range(s.suppliers).select(id.as("s_suppkey"),
      concat(lit("Supplier#"), lpad(id.cast("string"), 9, "0")).as("s_name"),
      u(seed, "s_nat", 25, id).cast("int").as("s_nationkey"),
      ((u(seed, "s_bal", 1100000, id) - 100000) / 100.0).as("s_acctbal")),
      s"$dir/supplier.parquet")
    write(spark.range(s.parts).select(id.as("p_partkey"),
      concat(pick(Colors, u(seed, "p_c", 6, id)), lit(" "), pick(Nouns, u(seed, "p_n", 5, id))).as("p_name"),
      concat(lit("Brand#"), (u(seed, "p_b", 25, id) + 1).cast("string")).as("p_brand"),
      pick(PartTypes, u(seed, "p_t", 5, id)).as("p_type"),
      (u(seed, "p_s", 50, id) + 1).cast("int").as("p_size"),
      ((u(seed, "p_r", 2000, id) + 9000) / 10.0).as("p_retailprice")),
      s"$dir/part.parquet")
    write(spark.range(s.orders).select(id.as("o_orderkey"),
      u(seed, "o_c", s.customers, id).as("o_custkey"),
      pick(Seq("F", "O", "P"), u(seed, "o_s", 3, id)).as("o_orderstatus"),
      ((u(seed, "o_p", 50000000, id) + 100000) / 100.0).as("o_totalprice"),
      day(u(seed, "o_d", 2557, id) + d1992).as("o_orderdate"),
      pick(Priorities, u(seed, "o_pr", 5, id)).as("o_orderpriority")),
      s"$dir/orders.parquet")
    val qty = u(seed, "l_q", 50, id) + 1
    write(spark.range(s.lineitems).select(
      u(seed, "l_o", s.orders, id).as("l_orderkey"),
      u(seed, "l_p", s.parts, id).as("l_partkey"),
      u(seed, "l_s", s.suppliers, id).as("l_suppkey"),
      (u(seed, "l_n", 7, id) + 1).cast("int").as("l_linenumber"),
      qty.cast("double").as("l_quantity"),
      (qty * (u(seed, "l_e", 1100, id) + 900)).cast("double").as("l_extendedprice"),
      (u(seed, "l_d", 11, id) / 100.0).as("l_discount"),
      (u(seed, "l_t", 9, id) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, "l_r", 3, id)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, "l_l", 2, id)).as("l_linestatus"),
      day(u(seed, "l_sd", 3287, id) + d1992).as("l_shipdate")),
      s"$dir/lineitem.parquet")
    write(spark.range(s.events).select(id.as("event_id"),
      timestamp_seconds(lit(1704067200L) + id * 200 + u(seed, "e_ts", 200, id))
        .cast(TimestampNTZType).as("ts"),
      u(seed, "e_u", 100, id).as("user_id"),
      pick(EventTypes, u(seed, "e_t", 5, id)).as("event_type"),
      (u(seed, "e_v", 10000, id) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(seed, "e_k", 100, id).cast("string"), lit("}")).as("props")),
      s"$dir/events.parquet")
  }

  // ---- cards: the reference's keyed refresh ----

  final case class CardBatches(base: Long, batches: Int, updates: Int,
      inserts: Int, retractEvery: Int, retracts: Int)

  /** The ingested base corpus every card table starts from. */
  def cardsBase(spark: SparkSession, n: Long): DataFrame =
    IngestOps.ingestCards(IngestOps.syntheticRawCards(spark, n))

  /** Uniform integer in [0, n) for driver-side choices, keyed like [[u]]. */
  def h(seed: Long, salt: String, n: Long, keys: Long*): Long =
    java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(
      (seed +: salt +: keys).mkString("/")).toLong * 2654435761L, n)

  /** Writes `batches` JSONL card batches under `dir/batch=<b>/` and the
    * retracted ids of retracting batches under `dir/retract/batch=<b>/`.
    * A batch updates `updates` base ids drawn from the seed (with a
    * perturbed USD price) and inserts `inserts` new ids; every
    * `retractEvery`-th batch also retracts `retracts` ids drawn from its
    * own share of the base ids. Updated ids (id % 10 != 9) and
    * retracted ids (id % 10 == 9) never overlap, so the final state does
    * not depend on the order of merge and delete within a batch, and no
    * id is retracted twice. The card JSON itself
    * is graft's `IngestOps.syntheticRawCards`; the batches are cut from
    * the cards they use, collected to the driver. */
  def cardBatches(spark: SparkSession, dir: String, seed: Long, c: CardBatches): Unit = {
    val total = c.base + c.batches.toLong * c.inserts
    val updated = (0 until c.batches).map { b =>
      (0L until c.base).filter(_ % 10 != 9)
        .sortBy(n => (h(seed, "upd", Int.MaxValue, b, n), n)).take(c.updates).sorted
    }
    val wanted = (updated.flatten ++ (c.base until total)).distinct
    val raw = IngestOps.syntheticRawCards(spark, total)
      .select(regexp_extract(col("raw"), "\"id\":\"card-(\\d+)\"", 1).cast("long").as("n"), col("raw"))
      .where(col("n").isin(wanted: _*))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    def put(path: String, lines: Seq[String]): Unit = {
      val f = new File(path)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    }
    (0 until c.batches).foreach { b =>
      val updates = updated(b)
        .map { n =>
          val card = json.readTree(raw(n))
          val usd = s"${n % 300 + b + 1}.${"%02d".format(h(seed, "usd", 100, b, n))}"
          card.get("prices").asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("usd", usd)
          json.writeValueAsString(card)
        }
      val inserts = (0 until c.inserts).map(j => raw(c.base + b.toLong * c.inserts + j))
      put(s"$dir/batch=$b/part-00000.json", updates ++ inserts)
      if (b % c.retractEvery == c.retractEvery - 1)
        put(s"$dir/retract/batch=$b/part-00000.txt", (0L until c.base)
          .filter(n => n % 10 == 9 && n / 10 % c.batches == b)
          .sortBy(n => (h(seed, "ret", Int.MaxValue, b, n), n)).take(c.retracts).sorted
          .map(n => s"card-$n"))
    }
  }

  /** The aggregate the as-of lake reads run over a cards snapshot. */
  def asOfAgg(cards: DataFrame): DataFrame =
    cards.groupBy("rarity").agg(count(lit(1)).as("n"), sum("price_usd").as("usd"),
      countDistinct("set").as("sets"))

  /** Lines of every part file under `dir` (a batch or retraction list). */
  def lines(dir: String): Seq[String] =
    partFiles(dir).flatMap(f => Files.readAllLines(f.toPath).toArray.map(_.toString))
      .filter(_.nonEmpty)

  def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)

  // ---- documents and embeddings: the LLM-data ingest gate ----

  final case class CorpusSizes(docs: Long, vectors: Long, batches: Int,
      nearDups: Int, novel: Int, batchVectors: Int, plantedCopies: Int)

  private val Vocab = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
    "window", "order", "data", "column", "join", "small", "big", "customer",
    "query", "stream", "group", "filter", "vector", "index", "shard", "page",
    "cache", "lake", "log", "file", "block", "task", "stage")
  private val Langs = Seq("en", "de", "fr", "es", "zh")
  val Dim = 64
  /** First vec_id of appended vectors: above the corpus, below graft's
    * planted-query id space (1e6). */
  val BatchVecBase = 500000L
  /** First doc_id of batch documents: above every base document. */
  val BatchDocBase = 10000000L
  /** graft's ANN serving plants a query for every corpus vector whose
    * vec_id is a multiple of this (SimilarityOps.withPlanted). */
  val PlantedEvery = 25

  /** One document of a batch: what graft reads (doc_id, text) and what
    * only the checks read (kind "dup" or "novel", and its source doc:
    * a base document, or for a near-duplicate of a novel document of
    * the previous batch, that document). */
  final case class BatchDoc(batch: Int, docId: Long, text: String, kind: String, src: Long)
  /** One vector of a batch and the corpus vector it copies. */
  final case class BatchVec(batch: Int, vecId: Long, src: Long)

  /** The corpus and its batches, built on the driver and written as
    * parquet through one local DataFrame each:
    *   - `documents.parquet` (doc_id, text, lang, source, n_chars) and
    *     `embeddings.parquet` (vec_id, embedding: array<float>, label)
    *     under `dir`, the layout `graft.Tables` loads;
    *   - document batches under `docDir/batch=<b>/` (doc_id, text):
    *     `nearDups` one-word edits and `novel` base documents with their
    *     letters rotated as in ScalingBench.amplify. From the second
    *     batch on, half the edits are of the previous batch's novel
    *     documents, which only an index that took their append can
    *     match. No (document, rotation) pair repeats across batches, so
    *     every rotated document is new to the index when its batch
    *     arrives;
    *   - vector batches under `vecDir/batch=<b>/` (vec_id, vec:
    *     array<double>): copies of corpus vectors with every coordinate
    *     scaled within 1 +- 1%, under fresh vec_ids. `plantedCopies` of
    *     them copy the sources of graft's planted queries, each source
    *     at most once per `PlantedEvery * batches / vectors` batches
    *     (so few enough that all its copies fit in a served top-10);
    *     the rest copy other vectors.
    * Returns the base texts by doc_id, every batch document and every
    * batch vector. */
  def corpus(spark: SparkSession, dir: String, docDir: String, vecDir: String, seed: Long,
      s: CorpusSizes): (Map[Long, String], Seq[BatchDoc], Seq[BatchVec]) = {
    import org.apache.spark.sql.Row
    def save(rows: Seq[Row], schema: StructType, path: String, parts: String*): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").partitionBy(parts: _*).parquet(path)
    val texts = (0L until s.docs).map { id =>
      id -> (0L until 40 + h(seed, "len", 40, id))
        .map(k => Vocab(h(seed, "doc", Vocab.size, id, k).toInt)).mkString(" ")
    }
    save(texts.map { case (id, t) =>
      Row(id, t, Langs(h(seed, "lang", Langs.size, id).toInt), s"src${id % 20}", t.length.toLong)
    }, StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      s"$dir/documents.parquet")
    val vectors = (0L until s.vectors).map { id =>
      (0 until Dim).map(d => ((h(seed, "emb", 20001, id, d) - 10000) / 40000.0).toFloat)
    }
    save(vectors.zipWithIndex.map { case (v, id) => Row(id.toLong, v, h(seed, "label", 10, id).toInt) },
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
      s"$dir/embeddings.parquet")

    val base = texts.toMap
    def rot(x: String, r: Int) = x.drop(r) + x.take(r)
    val (lower, upper) = (('a' to 'z').mkString, ('A' to 'Z').mkString)
    val offset = (seed & 0x7fffffffL) % s.docs
    require(s.batches.toLong * s.novel <= 25 * s.docs,
      "more novel documents than base documents times 25 rotations")
    // slot t of the run takes base document perm(t) under rotation
    // 1 + t / docs: a bijection, so no rotated text repeats
    def novel(b: Int): Seq[BatchDoc] = (0 until s.novel).map { i =>
      val t = b.toLong * s.novel + i
      val src = (t * 7919L + offset) % s.docs
      val r = (1 + t / s.docs).toInt
      val map = (lower + upper).zip(rot(lower, r) + rot(upper, r)).toMap
      BatchDoc(b, BatchDocBase + b * 1000L + s.nearDups + i, base(src).map(c => map.getOrElse(c, c)),
        "novel", src)
    }
    val docs = (0 until s.batches).flatMap { b =>
      val earlier = if (b == 0) Seq.empty else novel(b - 1)
      val dups = (0 until s.nearDups).map { i =>
        val (src, text) =
          if (i % 2 == 1 && earlier.nonEmpty) {
            val d = earlier(h(seed, "dnov", earlier.size, b, i).toInt)
            (d.docId, d.text)
          } else {
            val src = h(seed, "dsrc", s.docs, b, i)
            (src, base(src))
          }
        val w = text.split(" ")
        val pos = (h(seed, "dpos", 1000, b, i) % w.length).toInt
        val edited = w.updated(pos, Vocab(h(seed, "dw", Vocab.size, b, i).toInt)).mkString(" ")
        BatchDoc(b, BatchDocBase + b * 1000L + i, edited, "dup", src)
      }
      dups ++ novel(b)
    }
    save(docs.map(d => Row(d.docId, d.text, d.batch)),
      StructType.fromDDL("doc_id BIGINT, text STRING, batch INT"), docDir, "batch")
    val planted = (s.vectors + PlantedEvery - 1) / PlantedEvery
    require(s.plantedCopies <= planted, "more planted-source copies per batch than planted queries")
    val vecRows = for (b <- 0 until s.batches; i <- 0 until s.batchVectors) yield {
      val src =
        if (i < s.plantedCopies) ((b.toLong * s.plantedCopies + i) % planted * PlantedEvery).toInt
        else {
          val r = h(seed, "vsrc", s.vectors - planted, b, i)
          (r + r / (PlantedEvery - 1) + 1).toInt // the r-th vec_id that is not a multiple of PlantedEvery
        }
      Row(BatchVecBase + b * 1000L + i, (0 until Dim).map(d =>
        vectors(src)(d).toDouble * (1.0 + (h(seed, "vn", 2001, b, i, d) - 1000) / 100000.0)), b, src.toLong)
    }
    save(vecRows.map(r => Row(r.get(0), r.get(1), r.get(2))),
      StructType.fromDDL("vec_id BIGINT, vec ARRAY<DOUBLE>, batch INT"), vecDir, "batch")
    (base, docs, vecRows.map(r => BatchVec(r.getInt(2), r.getLong(0), r.getLong(3))))
  }

  // ---- digests for the generator's own test ----

  /** Order-independent digest of every file under `root`: SHA-256 over
    * the sorted (directory, content hash) pairs. File names are left out
    * because Spark names part files with a random UUID. */
  def digest(root: String): String = {
    val rootPath = new File(root).toPath
    val entries = Files.walk(rootPath).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".") &&
        p.getFileName.toString != "_SUCCESS")
      .map { p =>
        val rel = Option(rootPath.relativize(p).getParent).map(_.toString).getOrElse("")
        rel + ":" + sha256(Files.readAllBytes(p))
      }.sorted
    sha256(entries.mkString("\n").getBytes("UTF-8"))
  }

  private def sha256(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString
}
