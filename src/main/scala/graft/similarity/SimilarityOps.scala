package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{GraftFunctions, VectorOps}

/** Embedding similarity search (SURVEY.md §2.C): cosine near-dup pairs,
  * brute-force ANN top-k (the exactness baseline), and a random-hyperplane
  * LSH-bucketed ANN (the 100 TB path).
  *
  * Cosines ride on the native [[graft.functions.CosineSimilarity]]
  * expression — one fused codegen loop per pair. Values are emitted as
  * integer ppm (`round(cos * 1e6)`) because scale>0 double rounding is not
  * portable across engines.
  */
object SimilarityOps {

  /** The planted-query id space: a planted twin's id = source id +
    * PlantedIdOffset, and every corpus/query split in this file (and the
    * DuckDB oracles' literal `1000000`) keys off it. ONE definition
    * (VERDICT r9 "what's wrong" #2 — the literal appeared ~10 times) plus
    * a loud per-dir guard in [[vectors]]: a corpus whose real ids reach
    * the offset would silently alias corpus vectors into query id space,
    * so such a corpus must fail the build instead. The value itself must
    * stay 1e6 — the oracle SQL (AnnGateOracle et al.) reproduces the
    * split with the literal. */
  private[graft] val PlantedIdOffset = 1000000L

  private val idSpaceGuardMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Memo key of a fact about the embeddings table at `dir`: the path
    * plus the table's own file-state snapshot ([[Tables.tableCount]]'s
    * key), NOT the whole dir's — an index store or lake table committing
    * under the data dir must not invalidate what the embeddings say. */
  private def embeddingsKey(dir: String): String =
    s"$dir/embeddings@${Tables.snapshot(s"$dir/embeddings.parquet")}"

  /** Fails loudly (once per embeddings snapshot) if corpus ids collide
    * with the planted id space. Max over one column — cheap, memoized. */
  private def assertIdSpace(spark: SparkSession, dir: String): Unit =
    idSpaceGuardMemo.computeIfAbsent(embeddingsKey(dir), _ => {
      val mx = Tables.embeddings(spark, dir)
        .agg(max(col("vec_id"))).head().getLong(0)
      require(mx < PlantedIdOffset,
        s"embeddings at $dir: max vec_id $mx >= planted-id offset " +
          s"$PlantedIdOffset — corpus ids would alias into the planted " +
          "query id space and every corpus/query split in SimilarityOps " +
          "would be silently wrong; re-key the corpus below the offset")
      java.lang.Boolean.TRUE
    })

  /** cos similarity scaled to integer parts-per-million. */
  private def cosPpm(a: Column, b: Column): Column =
    round(GraftFunctions.cosineSim(a, b) * 1000000.0).cast("long")

  /** Embeddings with the float vectors widened to array<double>. */
  private def vectors(spark: SparkSession, dir: String): DataFrame = {
    assertIdSpace(spark, dir)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), VectorOps.asDouble(col("embedding")).as("vec"))
  }

  /** Corpus with planted near-duplicates: every 25th vector re-keyed and
    * scaled by 1.01 (cosine to its source ≈ 1, unchanged to all others). */
  private def withPlanted(base: DataFrame): DataFrame =
    base.unionByName(
      base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + PlantedIdOffset).as("vec_id"),
          transform(col("vec"), x => x * 1.01).as("vec")))

  // ---- driver-contract queries over the embeddings table ----

  /** Per-label centroid vectors — the embedding-space aggregation behind
    * class prototypes / cluster summaries. Emitted long (label, dim,
    * mean_ppm) so the result is hash-portable; one explode + one partial
    * aggregated groupBy, no vector shuffling. */
  def qEmbedLabelCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("label"), posexplode_outer(VectorOps.asDouble(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg("x") * 1000000.0).cast("long").as("mean_ppm"))
      .orderBy("label", "dim")

  /** Cosine near-dup pairs (>= 0.99) over the corpus with planted dups —
    * the SCALE path: candidates come from sign-LSH buckets (each vector
    * shuffles once per table on a small int key), then candidates are
    * verified with the exact cosine threshold. No all-pairs/nested-loop
    * join anywhere in the plan (asserted in SimilaritySpec).
    *
    * Recall: a near-duplicate at cos >= 0.99 subtends <= 8.1 degrees, so a
    * random hyperplane separates it with p ~ 0.026; missing all 8 tables
    * of 6 bits has p ~ 2e-7 per pair (and the planted scaled duplicates
    * have IDENTICAL sign patterns — recall 1 by construction). Precision 1
    * from the exact verification. [[embedNeardupCosineBrute]] keeps the
    * all-pairs oracle for the spec-side equality check. */
  def qEmbedNeardupCosine(spark: SparkSession, dir: String): DataFrame = {
    val all = withPlanted(vectors(spark, dir))
    val bucketed = signBucketed(all, lshBits(corpusSize(spark, dir)))
    val a = bucketed.select(col("table"), col("bucket"), col("vec_id").as("vec_a"))
    val b = bucketed.select(col("table"), col("bucket"), col("vec_id").as("vec_b"))
    val cands = a.join(b, Seq("table", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
    val va = all.select(col("vec_id").as("vec_a"), col("vec").as("va"))
    val vb = all.select(col("vec_id").as("vec_b"), col("vec").as("vb"))
    cands.join(va, "vec_a").join(vb, "vec_b")
      .filter(GraftFunctions.cosineSim(col("va"), col("vb")) >= 0.99)
      .select(col("vec_a"), col("vec_b"), cosPpm(col("va"), col("vb")).as("cos_ppm"))
      .orderBy("vec_a", "vec_b")
  }

  /** All-pairs exactness baseline for [[qEmbedNeardupCosine]] — a nested-
    * loop cartesian by design; NOT registered as a driver query (it is the
    * spec-side oracle the LSH-routed plan is equality-checked against). */
  def embedNeardupCosineBrute(spark: SparkSession, dir: String): DataFrame = {
    val all = withPlanted(vectors(spark, dir))
    val a = all.select(col("vec_id").as("vec_a"), col("vec").as("va"))
    val b = all.select(col("vec_id").as("vec_b"), col("vec").as("vb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .filter(GraftFunctions.cosineSim(col("va"), col("vb")) >= 0.99)
      .select(col("vec_a"), col("vec_b"), cosPpm(col("va"), col("vb")).as("cos_ppm"))
      .orderBy("vec_a", "vec_b")
  }

  /** Shared ranking tail for the ANN variants: the heavy top-10-per-query
    * selection runs through the repo's own bounded-heap operator
    * ([[graft.plans.TopKPerGroupExec]], O(n log k) and one group-key
    * shuffle) instead of a `row_number()` window that would hash ALL
    * scored rows into |queries| partitions and fully sort each. The rank
    * column is then recovered by a window over the <= 10 survivors per
    * query — and because TopKPerGroupExec preserves its child's hash
    * partitioning, that residual window plans with zero extra exchanges.
    *
    * Input contract: (query_id, vec_id, __cos) with __cos the materialized
    * exact cosine — scored ONCE per candidate; both the heap ordering and
    * the emitted cos_ppm reuse the attribute. */
  private def rankedTop10(scored: DataFrame): DataFrame = {
    val top = graft.plans.TopK.topKPerGroup(scored, 10,
      Seq(col("query_id")), Seq(col("__cos").desc, col("vec_id")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("__cos").desc, col("vec_id"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("query_id"), col("rank"), col("vec_id"),
        round(col("__cos") * 1000000.0).cast("long").as("cos_ppm"))
      .orderBy("query_id", "rank")
  }

  /** Brute-force cosine top-10 per query vector (queries = vec_id < 10).
    * The query side broadcasts; the corpus is scanned once; the per-query
    * ranking is the bounded-heap [[rankedTop10]] — at 100x corpus the
    * scored stream still reduces to 10 rows per query inside each map
    * task's heap instead of sorting |corpus| rows per query partition. */
  def qAnnTopkBrute(spark: SparkSession, dir: String): DataFrame = {
    val base = vectors(spark, dir)
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = base.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos"))
    rankedTop10(scored)
  }

  /** Number of LSH tables. */
  private[graft] val NTables = 8

  /** Corpus row count, memoized per (dir, file-state snapshot) via
    * [[Tables.tableCount]] — rewriting a dir within one JVM (the
    * ScalingBench amplify-into-scratch pattern) invalidates the memo. */
  private def corpusSize(spark: SparkSession, dir: String): Long =
    Tables.tableCount(spark, dir, "embeddings")

  /** Hyperplane bits per table, derived from corpus size so the expected
    * bucket occupancy stays ~32 vectors as the corpus grows (fixed bits
    * make candidate counts quadratic in n: bucket size grows linearly AND
    * the query set does too). Bits cost recall gently (each bit splits a
    * theta-angle pair with p = theta/pi per plane) — the 8 tables keep the
    * miss probability negligible through 24 bits, and scaled duplicates
    * have identical sign patterns at ANY bit width. */
  private[graft] def lshBits(n: Long): Int =
    math.max(6, math.min(24,
      math.ceil(math.log(math.max(1.0, n / 32.0)) / math.log(2.0)).toInt))

  /** Deterministic random hyperplane tensor (seeded Gaussian),
    * tables × bits × dim. Fill order (table → bit → dim) is the historical
    * literal-column order, so bucket assignments are unchanged. */
  private[graft] def hyperplanes(dim: Int, bits: Int): Seq[Seq[Seq[Double]]] = {
    val rng = new scala.util.Random(42)
    Seq.fill(NTables)(Seq.fill(bits)(Seq.fill(dim)(rng.nextGaussian())))
  }

  /** Sign-LSH bucketing shared by the ANN and near-dup paths: per table,
    * bucket = sign-bit pattern of `bits` hyperplane dots, all tables from
    * ONE fused native [[graft.functions.SignBuckets]] loop (the tensor is
    * a codegen reference object, not tables×bits literal arrays — which
    * cost seconds of Janino compile per plan). Returns
    * (vec_id, vec, table, bucket) — one row per (vector, table). */
  private def signBucketed(base: DataFrame, bits: Int, dim: Int = 64): DataFrame =
    base.select(col("vec_id"), col("vec"),
      posexplode(GraftFunctions.signBuckets(col("vec"), hyperplanes(dim, bits)))
        .as(Seq("table", "bucket")))

  /** Exact brute-force top-10 truth for the planted query set — the
    * recall denominator every ANN gate wrapper compares against. Same
    * broadcast-queries + bounded-heap shape as [[qAnnTopkBrute]]. The
    * stride filter is applied to the QUERIES FRAME AT THE SOURCE: a
    * post-hoc filter above [[rankedTop10]] cannot push below the custom
    * TopKPerGroupPlan node, so it would score corpus x ALL queries and
    * silently reintroduce the quadratic the sample exists to remove
    * (caught by review; toy bench sizes masked it). */
  private def bruteTruthTop10(spark: SparkSession, dir: String,
      queryStride: Long = 1L, extraCorpus: Option[DataFrame] = None): DataFrame = {
    val base = withPlanted(vectors(spark, dir))
    val queries = base.filter(col("vec_id") >= PlantedIdOffset)
      .filter(inGateSample(col("vec_id"), queryStride))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val baseCorpus = base.filter(col("vec_id") < PlantedIdOffset)
    val corpus = extraCorpus.fold(baseCorpus)(
      ev => baseCorpus.unionByName(ev.select(col("vec_id"), col("vec"))))
    rankedTop10(corpus.join(broadcast(queries), lit(true))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos")))
  }

  /** [[bruteTruthTop10]] exposed for the RecallProbe diagnostic main. */
  private[graft] def bruteTruthForProbe(spark: SparkSession, dir: String): DataFrame =
    bruteTruthTop10(spark, dir)

  /** Recall gates run on a BOUNDED deterministic query sample (<= 64):
    * brute truth costs O(gatedQueries x corpus), and the planted query
    * set grows WITH the corpus, so gating every query would make the
    * registered entries quadratic at scale (ScalingBench measured ivfpq
    * slope 0.59 -> 0.89 when the all-queries gate briefly stood).
    * Production recall monitoring samples its query set for exactly this
    * reason. The sample is pure id arithmetic — (vec_id div 25) mod
    * stride — so the DuckDB oracle reproduces it with a scalar
    * subquery; the full-query ranked searches remain exercised by specs
    * and by ScalingBench's *_full rows. */
  private val GateQueryCap = 64L

  private val gateStrideMemo =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[graft] def gateStride(spark: SparkSession, dir: String): Long =
    gateStrideMemo.computeIfAbsent(graft.SessionCache.dirKey(dir), _ => {
      val nq = Tables.embeddings(spark, dir)
        .filter(col("vec_id") % 25 === 0).count()
      math.max(1L, (nq + GateQueryCap - 1) / GateQueryCap)
    }).longValue()

  /** Predicate selecting the gated query sample from a planted-query-id
    * column (ids are source + 1e6 with source % 25 == 0; the division is
    * exact, floor+cast only guards the double `/`). */
  private def inGateSample(queryId: Column, stride: Long): Column =
    pmod(floor((queryId - PlantedIdOffset) / 25L).cast("long"), lit(stride)) === 0

  /** Tolerance gate for the ANN variants (VERDICT r6 ask #2, the
    * `q_approx_distinct` / `text_heavy_hitters` pattern): the exact
    * brute top-10 is computed alongside the approximate ranking IN-PLAN,
    * and the result carries booleans the DuckDB oracle asserts literally
    * TRUE — per-query `top1_ok` (the planted query's rank-1 hit IS its
    * source vector, the cos≈1 planted contract) and a corpus-level
    * `mean_recall_ok` (mean recall@10 vs brute >= minMeanRecallPct,
    * stamped on every row; per-query floors would be vacuous because the
    * planted source alone guarantees 10%). A capacity regression, a
    * probe-routing bug, or a shortlist that drops the true neighbor
    * flips a boolean and breaks the driver's hash gate — no k-means
    * state needs to be SQL-reproducible for this to hold. Thresholds
    * are set from [[graft.RecallProbe]] measurements at sf0.001 and
    * sf0.01 with margin. */
  private def recallGate(spark: SparkSession, dir: String, ranked: DataFrame,
      minMeanRecallPct: Int, queryStride: Long): DataFrame =
    gateAgainstTruth(ranked,
      bruteTruthTop10(spark, dir, queryStride)
        .select(col("query_id"), col("vec_id"), lit(true).as("in_brute")),
      minMeanRecallPct)

  /** Core of [[recallGate]] with the exact-truth frame supplied by the
    * caller — shared with the kNN-graph gate, whose truth differs
    * (candidates = the full planted GRAPH minus self, not the base
    * corpus). `truth` must be (query_id, vec_id, in_brute=true). */
  private def gateAgainstTruth(ranked: DataFrame, truth: DataFrame,
      minMeanRecallPct: Int): DataFrame = {
    val perQuery = ranked
      .join(truth, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(when(col("in_brute"), 1).otherwise(0)).as("__hits"),
        max(when(col("rank") === 1, col("vec_id"))).as("__top1"))
    val meanOk = perQuery.agg(
      (sum(col("__hits")) * 10 >= lit(minMeanRecallPct.toLong) * count(lit(1)))
        .as("mean_recall_ok"))
    perQuery.join(broadcast(meanOk), lit(true))
      .select(col("query_id"),
        lit(10L).as("k"),
        col("mean_recall_ok"),
        (col("__top1") === col("query_id") - PlantedIdOffset).as("top1_ok"))
      .orderBy("query_id")
  }

  /** Query-side multiprobe candidate generation shared by the cosine and
    * MIPS LSH paths: each query probes its own bucket plus the hamming
    * ball per table (radius 1; radius 2 once bits >= 10 — the scheduled
    * dial, see [[annTopkLshRanked]]'s rationale), candidates dedup as
    * bare id pairs. `corpusBucketed` is (table, bucket, vec_id, ...),
    * `queryBucketed` is (query_id, table, bucket). `radius2` widens the
    * ball to hamming 2 below the bits>=10 schedule point — the MIPS
    * route forces it at every width because norm augmentation
    * compresses the whole corpus toward the equator of the augmented
    * sphere (every |v⁺| = M), shrinking the angular gaps the planes
    * must preserve. */
  private def multiprobeCandidates(corpusBucketed: DataFrame,
      queryBucketed: DataFrame, bits: Int, radius2: Boolean = false): DataFrame = {
    val flipMasks: Seq[Int] = Seq(0) ++
      (0 until bits).map(1 << _) ++
      (if (radius2 || bits >= 10)
        for { i <- 0 until bits; j <- (i + 1) until bits } yield (1 << i) | (1 << j)
      else Seq.empty)
    val probes = queryBucketed.select(col("query_id"), col("table"),
      explode(array(flipMasks.map(m =>
        col("bucket").bitwiseXOR(lit(m)).cast("int")): _*)).as("bucket"))
    corpusBucketed
      .select(col("table"), col("bucket"), col("vec_id"))
      .join(probes, Seq("table", "bucket"))
      .select(col("query_id"), col("vec_id"))
      .distinct()
  }

  /** LSH-bucketed ANN over the planted corpus: per table, bucket =
    * sign-bit pattern of `BitsPerTable` hyperplane dots; candidates = pairs
    * sharing a bucket in any table; rank candidates by exact cosine.
    *
    * Scale shape: corpus shuffles once per table on a small int key; no
    * all-pairs comparison. A scaled near-duplicate has identical sign
    * pattern in every table, so true near-dup recall is 1 by construction
    * (asserted in SimilaritySpec); random far pairs rarely collide. */
  def annTopkLshRanked(spark: SparkSession, dir: String,
      queryStride: Long = 1L): DataFrame = {
    val bits = lshBits(corpusSize(spark, dir))
    val base = withPlanted(vectors(spark, dir))
    val bucketed = signBucketed(base, bits)
    // QUERY-SIDE multiprobe: each query probes its own bucket plus the
    // hamming-ball neighbors per table. Bits grow as log2(n) to pin
    // bucket occupancy, which starves single-bucket recall at scale
    // (each added bit multiplies a theta-angle pair's per-table
    // collision odds by (1 - theta/pi)); probing the ball recovers the
    // neighbors that miss by a plane or two — the standard
    // multiprobe-LSH trade of more probes for tables/bits. The RADIUS
    // is scheduled like every other r11 dial: 1 at bench scales, 2 once
    // bits >= 10 (n >= ~32k, where radius-1 measured mean 47 vs the
    // x10 52 at the x30 amplified corpus) — fan-out 1 + bits + C(bits,2)
    // ~ log²n, still query-side only: the corpus materializes ONE row
    // per (vector, table) regardless, so the index cost is unchanged.
    // candidates travel as BARE ID PAIRS through the bucket join and the
    // cross-table distinct — the multiprobe fan-out multiplies this
    // stream, and carrying the 64-double vectors through it (the pre-r11
    // form) made the join+distinct shuffle ~64x wider than needed (the
    // dominant term of the measured x30 wall). Vectors join back AFTER
    // dedup, once per side, on slim id keys.
    val queryB = bucketed.filter(col("vec_id") >= PlantedIdOffset)
      .filter(inGateSample(col("vec_id"), queryStride))
      .select(col("vec_id").as("query_id"), col("table"), col("bucket"))
    val cands = multiprobeCandidates(
      bucketed.filter(col("vec_id") < PlantedIdOffset), queryB, bits)
    val queryVecs = base.filter(col("vec_id") >= PlantedIdOffset)
      .filter(inGateSample(col("vec_id"), queryStride))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = cands
      .join(base.select(col("vec_id"), col("vec")), "vec_id")
      .join(queryVecs, "query_id")
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos"))
    rankedTop10(scored)
  }

  /** Driver-contract LSH entry: the ranked search through the
    * [[recallGate]]. Scaled duplicates collide in every table, so both
    * booleans hold with margin (thresholds measured in SimilaritySpec). */
  def qAnnTopkLsh(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    recallGate(spark, dir, annTopkLshRanked(spark, dir, st), LshMinMeanRecallPct, st)
  }

  /** Measured-floor MEAN-recall thresholds (percent of the brute
    * top-10), from [[graft.RecallProbe]] at sf0.001 / sf0.01 / sf0.1 /
    * 10x-amplified-sf0.1 after the r8 capacity rework: lsh means
    * 93/89/90/52; ivf 78/78/69/68; ivfpq 66/68/54/63. Floors sit below
    * the measured minimum across the ORACLE-ASSERTED scales (sf0.001
    * specs, sf0.01 driver, sf0.1 bench) with wide drift margin; the
    * spec also asserts the booleans, so silent recall decay shows up
    * there first. What changed in r8 (the r7 fixed-dial decay — ivf
    * 66/71/58, ivfpq 61/66/42, lsh 18 at 10x — was the silent-floor-
    * crossing risk): nProbe now scales with the cell count
    * ([[ivfProbes]], pinned 1/4 of cells), the PQ exact-re-rank
    * shortlist scales with the corpus (n/20), and LSH queries probe the
    * hamming-radius-1 ball of their bucket per table (multiprobe) so
    * occupancy-pinned bit growth no longer starves single-bucket
    * collisions. Residual 10x decay (lsh 52, ivfpq 63) is the honest
    * uniform-random-corpus geometry — real clustered embedding spaces
    * concentrate neighbors; this synthetic corpus is cell-pruning's
    * worst case — and the 10x numbers now sit ABOVE the old SF-range
    * MEANS rather than collapsing below the floors. */
  private[graft] val LshMinMeanRecallPct = 60
  private[graft] val IvfMinMeanRecallPct = 50
  /** 40 → 50 in r9: residual encoding lifted measured ivfpq means to
    * 67/69/58 at sf0.001/0.01/0.1 (RecallProbe, deterministic
    * pipeline), so 50 keeps ≥17 points of margin at the two
    * oracle-asserted scales while catching a residual/codebook/ADC
    * regression that the old floor would have slept through. */
  private[graft] val IvfPqMinMeanRecallPct = 50

  // ---- MIPS: maximum-inner-product search over a non-unit corpus ----

  /** Deterministic per-id norm plant for the MIPS family. The synthetic
    * embeddings ship unit-normalized, where inner-product ranking
    * degenerates to cosine and a MIPS operator would be hollow — so the
    * corpus is re-scaled by f(id) = 1 + (id mod 7)/4 (norms 1.0 .. 2.5),
    * pure id arithmetic both engines replay in doubles. Under varied
    * norms argmax <q,v> genuinely disagrees with argmax cos(q,v)
    * (asserted non-vacuously in SimilaritySpec). */
  private def mipsScaled(base: DataFrame): DataFrame =
    base.select(col("vec_id"),
      transform(col("vec"),
        x => x * (lit(1.0) + (col("vec_id") % 7).cast("double") / 4.0)).as("vec"))

  /** Brute-force MIPS top-10 — the exact baseline (ann_topk_brute's
    * shape: queries broadcast, corpus scanned once, bounded-heap
    * ranking): score = <q, v> over the norm-planted corpus, queries the
    * raw unit vectors with vec_id < 10. Integer-exact oracle: DuckDB
    * replays the scale plant and list_inner_product on the same
    * doubles. */
  def qEmbedMips(spark: SparkSession, dir: String): DataFrame = {
    val base = vectors(spark, dir)
    val corpus = mipsScaled(base)
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.dotProduct(col("qvec"), col("vec")).as("__cos"))
    rankedTop10(scored).withColumnRenamed("cos_ppm", "ip_ppm")
  }

  /** MIPS through sign-LSH via the norm-augmentation reduction
    * (Bachrach et al. 2014, "Speeding up the Xbox recommender"): append
    * sqrt(M² − |v|²) to each corpus vector (M = max corpus norm, a
    * broadcast scalar frame — no driver collect) and 0 to each query;
    * then cos(q⁺, v⁺) = <q,v>/(|q|·M) is MONOTONE in <q,v> per query,
    * so cosine ANN machinery — 65-dim hyperplane sign buckets, 8
    * tables, scheduled bits, query-side multiprobe — serves
    * inner-product search unchanged. Candidates rerank by EXACT <q,v>.
    * Scale shape: identical to [[annTopkLshRanked]] — one (vector,
    * table) row per corpus vector, bucket equi-join, id-pair candidate
    * stream, never all-pairs. */
  def annMipsLshRanked(spark: SparkSession, dir: String): DataFrame = {
    val base = vectors(spark, dir)
    val corpus = mipsScaled(base)
      .withColumn("__n2", GraftFunctions.dotProduct(col("vec"), col("vec")))
    val m2 = corpus.agg(max(col("__n2")).as("__m2"))
    val aug = corpus.join(broadcast(m2), lit(true))
      .select(col("vec_id"),
        concat(col("vec"),
          array(sqrt(greatest(col("__m2") - col("__n2"), lit(0.0))))).as("vec"))
    val bits = lshBits(corpusSize(spark, dir))
    val corpusB = signBucketed(aug, bits, dim = 65)
    val queries = base.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val queryB = signBucketed(
      queries.select(col("query_id").as("vec_id"),
        concat(col("qvec"), array(lit(0.0))).as("vec")), bits, dim = 65)
      .select(col("vec_id").as("query_id"), col("table"), col("bucket"))
    val cands = multiprobeCandidates(corpusB, queryB, bits, radius2 = true)
      .filter(col("query_id") =!= col("vec_id"))
    val scored = cands
      .join(mipsScaled(base).select(col("vec_id"), col("vec")), "vec_id")
      .join(queries, "query_id")
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.dotProduct(col("qvec"), col("vec")).as("__cos"))
    rankedTop10(scored).withColumnRenamed("cos_ppm", "ip_ppm")
  }

  /** Driver-contract MIPS-LSH entry: the augmented-space search gated
    * in-plan against brute MIPS truth over the same 10 queries (bounded
    * — the query set is FIXED, not corpus-growing, so the gate is
    * linear). Booleans the oracle asserts literally: per-corpus
    * mean_recall_ok (mean recall@10 >= floor) and per-query top1_ok
    * (the augmented route surfaces the true inner-product argmax —
    * the reduction's monotonicity contract, end to end). */
  def qAnnMipsLsh(spark: SparkSession, dir: String): DataFrame = {
    val ranked = annMipsLshRanked(spark, dir)
    val truthRanked = qEmbedMips(spark, dir)
    val truth = truthRanked
      .select(col("query_id"), col("vec_id"), lit(true).as("in_brute"))
    val truthTop1 = truthRanked.filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id").as("__btop1"))
    val perQuery = ranked
      .join(truth, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(when(col("in_brute"), 1).otherwise(0)).as("__hits"),
        max(when(col("rank") === 1, col("vec_id"))).as("__top1"))
    val meanOk = perQuery.agg(
      (sum(col("__hits")) * 10 >= lit(MipsMinMeanRecallPct.toLong) * count(lit(1)))
        .as("mean_recall_ok"))
    perQuery.join(broadcast(truthTop1), "query_id")
      .join(broadcast(meanOk), lit(true))
      .select(col("query_id"), lit(10L).as("k"),
        col("mean_recall_ok"),
        (col("__top1") === col("__btop1")).as("top1_ok"))
      .orderBy("query_id")
  }

  /** Measured floor for the MIPS-LSH mean recall@10 (vs brute MIPS
    * truth). With radius-2 probing the measured mean is 99 at sf0.001
    * (SimilaritySpec prints it each run) and the gate booleans hold at
    * sf0.01 and sf0.1; 50 keeps wide drift margin while catching an
    * augmentation/bucketing/rerank regression. Radius 2 is forced at
    * every bit width here (unlike the cosine path's bits>=10 schedule)
    * because the augmented space compresses angles — every |v⁺| = M —
    * which measurably starves radius-1 recall (one top1 miss in 10 at
    * sf0.001 before the widening). */
  private[graft] val MipsMinMeanRecallPct = 50

  /** Coarse k-means quantizer, trained on the driver: ONE collect of the
    * (already bounded) training sample, then Lloyd over driver arrays.
    *
    * Deterministic spec — the nearest-cell rule every encode and probe
    * applies ([[nearestCell]]), so the trained quantizer routes exactly
    * like the served one:
    *  - seeds = the first k rows in (xxhash64(vec_id), vec_id) order
    *    (spread uniformly over the corpus and robust to ANY id
    *    distribution — a modulo-stride pick silently under-seeds offset or
    *    sparse id spaces);
    *  - distance = ‖v‖² − 2⟨v,c⟩ + ‖c‖², each dot product summed in
    *    element order (the `dot_product` kernel's order), ties to the
    *    lowest cell;
    *  - new centroid = per-dimension sum / count, summed in seed order;
    *    a cell that captured no points keeps its previous centroid.
    *
    * Cost model: training is ~(64·k)·k·d per iteration (3 iterations)
    * against n·k·d for the one distributed full-corpus encode, so with
    * the n ≈ 8k² the [[ivfCells]] sizing implies, training is ~24/k of the
    * build — a bounded driver loop next to the part that has to scale,
    * at the price of one Spark job instead of several per iteration. */
  private[graft] def kmeansLite(
      data: DataFrame, k: Int, iters: Int): Array[Array[Double]] =
    lloyd(seedOrdered(data), k, iters)

  /** The `vec` column of (vec_id, vec) rows, collected once and sorted
    * into [[kmeansLite]]'s seed order (xxhash64(vec_id), vec_id). */
  private def seedOrdered(data: DataFrame): Array[Array[Double]] =
    data.select(xxhash64(col("vec_id")), col("vec_id"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .sortBy(r => (r._1, r._2))
      .map(_._3)

  /** Left-to-right dot product — the `dot_product` kernel's summation
    * order, so driver distances equal the served ones bit-for-bit. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Lloyd over `points` already in seed order: seeds = the first k
    * points, then `iters` assign/update rounds ([[kmeansLite]]'s rules).
    * Returns fewer than k centroids only when there are fewer than k
    * points; callers that need exactly k check. */
  private def lloyd(points: Array[Array[Double]], k: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids = points.take(k)
    val norms = points.map(v => dot(v, v))
    (1 to iters).foreach { _ =>
      val cnorms = centroids.map(c => dot(c, c))
      val sums = centroids.map(c => new Array[Double](c.length))
      val counts = new Array[Long](centroids.length)
      var i = 0
      while (i < points.length) {
        val v = points(i)
        var best = 0
        var bestD = Double.PositiveInfinity
        var c = 0
        while (c < centroids.length) {
          val d = norms(i) - dot(v, centroids(c)) * 2.0 + cnorms(c)
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best)
        var j = 0
        while (j < s.length) { s(j) += v(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** Cell count for an IVF index over n vectors: K ~ sqrt(n) — the
    * classic balance point (serve work per query ~ nProbe * n/K and build
    * work ~ n * K meet at sqrt). A FIXED K is quadratic at scale: cells
    * grow linearly, so does the query set, and their product is n^2/K. */
  private def ivfCells(n: Long): Int =
    math.max(16, math.min(4096, math.ceil(math.sqrt(n / 8.0)).toInt))

  /** Probe count for a k-cell IVF index: nProbe = max(6, ceil(k/4)), i.e. a
    * FIXED 1/4 fraction of cells once k outgrows the floor. A constant
    * nProbe while cells grow as sqrt(n) silently starves recall — the
    * probed corpus fraction shrinks toward zero and the r7 measurements
    * showed exactly that decay (ivf mean recall 66/71/58, ivfpq 61/66/42
    * across sf0.001/0.01/0.1). Pinning the cell FRACTION makes measured
    * recall non-decaying in corpus size on this corpus (RecallProbe r8).
    * The honest trade: per-query candidate work is then ~n/4
    * asymptotically — IVF's win here is the constant (4x fewer exact
    * scores than brute force, PQ serving from 8-byte codes on top), not
    * an asymptotic class. Deployments chasing sublinear serve cost on a
    * CLUSTERED corpus lower the fraction (real embedding spaces
    * concentrate neighbors in few cells; uniform-random synthetic
    * vectors are the worst case for cell pruning, so this default is
    * the conservative one). */
  /** Probe-fraction denominator (nProbe = cells/D). Overridable via the
    * `graft.ivf.probe.denom` system property so RecallProbe can SWEEP
    * fractions (1/4, 1/8, 1/16) in one JVM and measure the recall cost of
    * each — the data that justifies (or lowers) the production default.
    * Measured r9 (BASELINE.md "IVF probe-fraction sweep"): at the x10
    * corpus — the only scale where cells (87) outgrow the nProbe floor
    * enough for the fraction to bite — 1/8 costs ivf 16 mean-recall
    * points (68→52, a 2-point margin over the 50 gate floor) and brings
    * back decay-with-corpus-size; 1/4 stays flat across sf0.1→x10. On
    * this uniform-random corpus the default stays 1/4; a clustered
    * production embedding space is where 1/8+ becomes safe. */
  private def probeDenom: Int =
    sys.props.get("graft.ivf.probe.denom").map(_.toInt).getOrElse(4)
  private def ivfProbes(k: Int): Int = math.max(6, (k + probeDenom - 1) / probeDenom)

  /** The gated planted-query slice (vec_id, vec), collected once so its
    * probes are planned on the driver ([[probeCells]]). */
  private def querySlice(spark: SparkSession, dir: String,
      queryStride: Long): Array[(Long, Array[Double])] = {
    val spark2 = spark
    import spark2.implicits._
    withPlanted(vectors(spark, dir))
      .filter(col("vec_id") >= PlantedIdOffset)
      .filter(inGateSample(col("vec_id"), queryStride))
      .select(col("vec_id"), col("vec")).as[(Long, Array[Double])].collect()
  }

  /** IVF-flat candidates (query_id, vec_id, __cos) of the gated query
    * slice: each query's `nProbe` nearest cells, ranked on the driver
    * ([[probeCells]]), and every base-corpus vector in them, scored by
    * exact cosine. The corpus side is one typed map that assigns each
    * vector its [[nearestCell]]; the plan gets two small local relations,
    * per probed cell the queries that reach it and the query vectors, so
    * nothing shuffles before the ranking. */
  private def ivfScored(spark: SparkSession, dir: String, queryStride: Long): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val q = corpusQuantizer(spark, dir)
    val nProbe = ivfProbes(q.nCells)
    val qs = querySlice(spark, dir, queryStride)
    val probed = qs.toSeq.flatMap { case (id, qv) =>
      probeCells(qv, q, nProbe).map { case (cell, _) => (cell, id) }
    }.groupBy(_._1).toSeq.map { case (cell, ps) => (cell, ps.map(_._2)) }
      .toDF("cell", "query_ids")
    vectors(spark, dir).as[(Long, Array[Double])]
      .map { case (id, v) => (id, v, nearestCell(v, q.centroids, q.cnorms)) }
      .toDF("vec_id", "vec", "cell")
      .join(broadcast(probed), "cell")
      .select(col("vec_id"), col("vec"), explode(col("query_ids")).as("query_id"))
      .join(broadcast(qs.toSeq.toDF("query_id", "qvec")), "query_id")
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos"))
  }

  /** IVF-style ANN: partition the corpus into k-means cells, probe the
    * `nProbe` nearest cells per query, rank candidates by exact cosine.
    *
    * Scale shape: the coarse quantizer (k centroids) is trained once per
    * corpus snapshot on the driver ([[corpusQuantizer]] — the
    * build-once/serve-many split real IVF systems make); the probe plan
    * is made on the driver over the collected query slice, and a query
    * touches only nProbe/k of the corpus ([[ivfScored]]). This is the
    * standard recall/throughput dial (IVF from the FAISS lineage) next to
    * qAnnTopkLsh's hash variant.
    * Planted-dup recall asserted in SimilaritySpec. */
  def annTopkIvfRanked(spark: SparkSession, dir: String,
      queryStride: Long = 1L): DataFrame =
    rankedTop10(ivfScored(spark, dir, queryStride))

  /** Driver-contract IVF entry: the ranked search through the
    * [[recallGate]]. */
  def qAnnTopkIvf(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    recallGate(spark, dir, annTopkIvfRanked(spark, dir, st), IvfMinMeanRecallPct, st)
  }

  /** Radius threshold for range search, in cos ppm (τ = 0.35): high
    * enough that matches are genuinely associated (0.35·√64 ≈ 2.8σ for
    * random 64-dim directions), low enough that organic neighbors exist
    * beyond the planted twins — so the recall gate measures the index,
    * not just the planted pair. */
  private[graft] val RangeTauPpm = 350000L

  /** ALL probed-cell candidates above τ — the FAISS `range_search` shape
    * ([[annTopkIvfRanked]] returns the k best; range search returns
    * every neighbor within a radius — the dedup-at-threshold and
    * graph-construction API). The candidates of the top-k search
    * ([[ivfScored]]), EXACT-cosine verified, so precision is 1 by
    * construction and the
    * returned set is a SUBSET of the true range — which is what lets
    * the gate compute recall from bare counts, no membership join. */
  private[graft] def annRangeScored(spark: SparkSession, dir: String,
      queryStride: Long): DataFrame =
    ivfScored(spark, dir, queryStride)
      .filter(col("__cos") >= RangeTauPpm / 1e6)
      .select(col("query_id"), col("vec_id"),
        round(col("__cos") * 1000000.0).cast("long").as("cos_ppm"))

  /** Exact range truth over the gated sample: every corpus vector with
    * cos ≥ τ per sampled query — O(sample · n), the bounded-brute
    * contract of [[bruteTruthTop10]]. */
  private def rangeBruteTruth(spark: SparkSession, dir: String,
      queryStride: Long): DataFrame = {
    val base = withPlanted(vectors(spark, dir))
    val queries = base.filter(col("vec_id") >= PlantedIdOffset)
      .filter(inGateSample(col("vec_id"), queryStride))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    base.filter(col("vec_id") < PlantedIdOffset)
      .join(broadcast(queries), lit(true))
      .filter(GraftFunctions.cosineSim(col("qvec"), col("vec")) >= RangeTauPpm / 1e6)
      .select(col("query_id"), col("vec_id"))
  }

  /** [[annRangeScored]] / [[rangeBruteTruth]] at the gated stride,
    * exposed for the RecallProbe diagnostic main. */
  private[graft] def rangeScoredForProbe(spark: SparkSession, dir: String): DataFrame =
    annRangeScored(spark, dir, gateStride(spark, dir))
  private[graft] def rangeTruthForProbe(spark: SparkSession, dir: String): DataFrame =
    rangeBruteTruth(spark, dir, gateStride(spark, dir))

  /** Micro-averaged recall floor for range search at the adopted probe
    * fraction (1/4 of cells): [[graft.RecallProbe]] range section
    * measures micro recall 95 / 88 / 76 at sf0.001 / 0.01 / 0.1 — the
    * fall with n is the honest uniform-random geometry (marginal
    * τ-neighbors increasingly sit in unprobed cells; same note as the
    * serve floors). 60 sits ≥ 28 points under both ORACLE-ASSERTED
    * scales and 16 under the sf0.1 bench measurement. */
  private[graft] val RangeMinMicroRecallPct = 60

  /** Driver-contract range-search entry: the full radius search runs
    * in-plan over the gated sample; the gate emits per-query
    * `src_found_ok` (the twin's cos≈1 source must be in its range set)
    * and the corpus-level micro-averaged recall floor vs the exact range
    * truth — integer arithmetic only (found ⊆ true by exact
    * verification, so recall needs bare counts, never a membership
    * join). */
  def qAnnRangeSearch(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    val found = annRangeScored(spark, dir, st)
      .groupBy("query_id")
      .agg(count(lit(1)).as("__nf0"),
        max(when(col("vec_id") === col("query_id") - PlantedIdOffset, 1L)
          .otherwise(0L)).as("__src0"))
    val truth = rangeBruteTruth(spark, dir, st)
      .groupBy("query_id").agg(count(lit(1)).as("__nt"))
    // LEFT join from TRUTH (every sampled query has >= 1 true neighbor —
    // its planted source), found counts coalesced to 0: a query whose
    // index search returns NOTHING must still emit a row (src_found_ok =
    // false) and drag the micro-recall numerator down, not vanish from
    // both sides of the ratio (ADVICE r10 #1 — the inner join biased
    // recall_floor_ok upward and demoted a total search miss from a FALSE
    // boolean to a missing row)
    val perQuery = truth.join(found, Seq("query_id"), "left")
      .select(col("query_id"), col("__nt"),
        coalesce(col("__nf0"), lit(0L)).as("__nf"),
        coalesce(col("__src0"), lit(0L)).as("__src"))
    val microOk = perQuery.agg(
      (sum(col("__nf")) * 100 >= lit(RangeMinMicroRecallPct.toLong) * sum(col("__nt")))
        .as("recall_floor_ok"))
    perQuery.join(broadcast(microOk), lit(true))
      .select(col("query_id"), lit(RangeTauPpm).as("tau_ppm"),
        (col("__src") === 1L).as("src_found_ok"),
        col("recall_floor_ok"))
      .orderBy("query_id")
  }

  /** Int8 quantization of the embedding column — the storage/transfer
    * compression step of an embedding pipeline: q[i] = round(x[i] /
    * maxabs * 127) with the per-vector scale emitted alongside so the
    * vector is reconstructible. Every step is the same IEEE operation on
    * identical inputs in both engines (abs/max compare, one divide + one
    * multiply per element, ties-away rounding), so the DuckDB oracle
    * matches exactly; the quantized vector travels in canonical CSV form
    * (the array-compare convention q_array_funcs established). Narrow
    * codegen'd map, no shuffle, at any corpus size. */
  /** The cos >= 0.99 near-dup pair list, mined once per session per data
    * directory (LSH candidates + exact verify) and served from a
    * checkpointed temp view — the embedding twin of
    * [[graft.dedup.DedupOps.cachedJaccardPairs]]: consumers after the
    * first (semantic-dedup clustering) price their own work, not a
    * re-mine of pairs the session already has. [[qEmbedNeardupCosine]]
    * stays uncached — that registered entry IS the mining operator. */
  def cachedNeardupPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.cachedDirView(spark, "graft_neardup_pairs", dir)(
      qEmbedNeardupCosine(spark, dir).select("vec_a", "vec_b"))

  /** Semantic dedup, SemDeDup-shaped: treat exact-verified cos >= 0.99
    * pairs as edges, take connected components with the same scalable
    * min-label propagation the text side uses
    * ([[graft.dedup.DedupOps.dedupClusters]] — per-round join + min
    * aggregation, no driver-side graph), and mark each component's
    * min-id member as the KEPT representative; dropping `is_rep = false`
    * rows is the embedding-space dedup step of a training-data pipeline.
    * Transitivity matters: A~B and B~C at 0.99 puts A,C in one cluster
    * even when cos(A,C) < 0.99, which pairwise dedup would miss. */
  def qEmbedClusterDedup(spark: SparkSession, dir: String): DataFrame = {
    val nodes = withPlanted(vectors(spark, dir)).select(col("vec_id").as("doc_id"))
    val pairs = cachedNeardupPairs(spark, dir)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    graft.dedup.DedupOps.dedupClusters(nodes, pairs)
      .select(col("doc_id").as("vec_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("is_rep"))
      .orderBy("vec_id")
  }

  def qEmbedQuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir)
      .withColumn("maxabs", array_max(transform(col("vec"), x => abs(x))))
      .withColumn("qvec",
        when(col("maxabs") === 0.0, transform(col("vec"), _ => lit(0)))
          .otherwise(transform(col("vec"),
            x => round(x / col("maxabs") * 127.0).cast("int"))))
      .select(col("vec_id"), col("maxabs"),
        concat_ws(",", transform(col("qvec"), q => q.cast("string"))).as("qvec_csv"))
      .orderBy("vec_id")

  /** Distributed Lloyd k-means surfaced as a first-class operator — the
    * clustering primitive the IVF quantizer ([[kmeansLite]]) and
    * SemDeDup-style semantic dedup both build on, here in an
    * INTEGER-EXACT form so every assignment and centroid is
    * hash-portable across engines (the cos_ppm / micronat precedent):
    * dims are quantized to micro-units (`round(x*1e6) + 2e6` — the shift
    * keeps every value positive so truncating division IS floor
    * division on both engines), distances are exact integer sums
    * (max term 64·(2.5e6)² ≈ 2.6e14 ≪ 2⁵³, so double arithmetic carries
    * them exactly), and centroid updates use truncating integer mean
    * (`sum div count`), matching DuckDB's `//` bit-for-bit.
    *
    * Deterministic spec: init = the k lowest vec_ids; 2 Lloyd update
    * rounds; final assignment emitted as (vec_id, cell, dist); ties in
    * distance break to the lowest cell. An empty cell keeps its previous
    * centroid (same rule as [[kmeansLite]]).
    *
    * Scale shape (the reason this is Spark-shaped and not a driver
    * loop like [[kmeansLite]], which trains on a bounded sample: this
    * clusters the WHOLE corpus): centroids are k×d quantizer METADATA
    * (the sanctioned-collect list — ≤ k·d longs per round);
    * each assignment pass is one broadcast join + a map-side-combined
    * groupBy(vec_id) argmin (shuffle volume n rows, never n·k — the k
    * candidate rows for a vector are produced inside one task and the
    * partial min collapses them before the exchange); each update pass
    * shuffles only k·d (cell, dim) keys after map-side partial sums.
    * Nothing grows super-linearly in the corpus; k and iters are the
    * only knobs, exactly as in the IVF build. */
  def qEmbedKmeans(spark: SparkSession, dir: String): DataFrame = {
    val base = vectors(spark, dir).select(
      col("vec_id"),
      transform(col("vec"), x => round(x * 1000000.0) + 2000000.0).as("q"))
    kmeansExact(base, k = 8, rounds = 2)
  }

  /** Core of [[qEmbedKmeans]], exposed for planted-data specs: `base` is
    * (vec_id, q array<double> of EXACT non-negative integer values).
    * Init = the k lowest vec_ids (which must exist); `rounds` Lloyd
    * updates; returns the final assignment (vec_id, cell, dist). */
  private[graft] def kmeansExact(base: DataFrame, k: Int, rounds: Int): DataFrame = {
    // centroid state as a broadcastable frame (quantizer metadata, not
    // literal code: literal arrays cost seconds of codegen per plan)
    val spark2 = base.sparkSession
    import spark2.implicits._
    def cellsOf(c: Array[Array[Long]]): DataFrame =
      c.zipWithIndex
        .map { case (v, i) =>
          (i.toLong, v.map(_.toDouble).toSeq, v.map(x => x.toDouble * x).sum) }
        .toSeq.toDF("cell", "cvec", "cnorm")

    // ||v-c||² = ||v||² − 2⟨v,c⟩ + ||c||² — one fused native dot product
    // per (vector, centroid), every term an exact integer in a double
    def assign(cells: DataFrame): DataFrame =
      base.withColumn("__vn", GraftFunctions.dotProduct(col("q"), col("q")))
        .join(broadcast(cells), lit(true))
        .withColumn("__d",
          col("__vn") - GraftFunctions.dotProduct(col("q"), col("cvec")) * 2.0 + col("cnorm"))
        .groupBy("vec_id")
        .agg(first(col("q")).as("q"),
          min(struct(col("__d"), col("cell"))).as("best"))
        .select(col("vec_id"), col("q"),
          col("best.cell").as("cell"), col("best.__d").cast("long").as("dist"))

    var centroids: Array[Array[Long]] = base.filter(col("vec_id") < k)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Double](1).map(_.toLong).toArray)
    require(centroids.length == k,
      s"kmeansExact: init needs vec_ids 0..${k - 1} present, found ${centroids.length}")
    (1 to rounds).foreach { _ =>
      val sums = assign(cellsOf(centroids))
        .select(col("cell"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(sum(col("x")).cast("long").as("s"), count(lit(1)).as("n"))
        .collect()
        .map(r => (r.getLong(0).toInt, r.getInt(1), r.getLong(2), r.getLong(3)))
      val updated = sums.groupBy(_._1).map { case (cell, rows) =>
        cell -> {
          val byPos = rows.map(t => t._2 -> (t._3 / t._4)).toMap
          Array.tabulate(byPos.size)(byPos)
        }
      }
      centroids = centroids.indices
        .map(i => updated.getOrElse(i, centroids(i))).toArray
    }
    assign(cellsOf(centroids))
      .select(col("vec_id"), col("cell"), col("dist"))
      .orderBy("vec_id")
  }

  // ---- IVF+PQ: product-quantized candidate ranking (FAISS IVFPQ lineage)

  private val PqBlocks = 8
  private val PqCells = 16

  /** Query-independent half of the residual-ADC decomposition: per coarse
    * cell, the packed slot array T2[b·cells + c] = ‖C_b + cb_c‖² (C = the
    * cell centroid, cb = the PQ codebook entry). Pure driver-side
    * arithmetic over quantizer metadata; extracted so the slot packing —
    * an off-by-one here silently degrades recall without failing the
    * (deliberately loose) recall gates — is differential-testable
    * (SimilaritySpec pins it against a naive per-(block,code)
    * reconstruction). */
  private[graft] def pqT2Rows(
      cellVecs: Seq[(Int, Seq[Double])],
      codebook: Array[Array[Array[Double]]],
      sub: Int): Seq[(Int, Seq[Double])] =
    cellVecs.map { case (cellId, cvec) =>
      (cellId, Array.tabulate(PqBlocks * PqCells) { slot =>
        val (b, c) = (slot / PqCells, slot % PqCells)
        var s = 0.0
        var i = 0
        while (i < sub) {
          val v = cvec(b * sub + i) + codebook(b)(c)(i)
          s += v * v
          i += 1
        }
        s
      }.toSeq)
    }

  /** ‖c‖² as every quantizer frame stores it (`cnorm`). */
  private def sqNorm(c: Array[Double]): Double = c.map(x => x * x).sum

  /** The frozen IVF+PQ quantizer as driver arrays, each indexed by id:
    * the coarse centroids with their squared norms as the cell table
    * stores them (`cnorm`, never recomputed), and the residual PQ
    * codebook, (block, code) → sub-vector. Quantizer-sized (≤ 4096 cells
    * × dim, 8 × 16 codes), so every encode and probe plan uses it on the
    * driver and in task closures instead of joining frames of it. */
  final case class Quantizer(
      centroids: Array[Array[Double]],
      cnorms: Array[Double],
      codebook: Array[Array[Array[Double]]]) {
    def nCells: Int = centroids.length
    private[graft] lazy val codeNorms: Array[Array[Double]] = codebook.map(_.map(sqNorm))
  }

  /** A (cell, cvec, cnorm) cell table collected into [[Quantizer]]
    * order: row i is cell i. */
  private[graft] def cellArrays(cells: DataFrame): (Array[Array[Double]], Array[Double]) = {
    val rows = cells.select(col("cell"), col("cvec"), col("cnorm")).collect()
      .sortBy(_.getInt(0))
    require(rows.map(_.getInt(0)).toSeq == rows.indices,
      s"IVF: cell ids are not 0..${rows.length - 1}")
    (rows.map(_.getSeq[Double](1).toArray), rows.map(_.getDouble(2)))
  }

  /** The persistable IVF+PQ serving index: the corpus codes
    * (vec_id, cell, codes) and the quantizer on the driver — exactly the
    * state a build-once/serve-many deployment writes at index time and
    * every serving session loads ([[graft.sources.AnnIndexStore]] is the
    * parquet round-trip). */
  final case class IvfPqIndex(
      withCodes: DataFrame,
      quantizer: Quantizer) {
    def nCells: Int = quantizer.nCells
    def codebook: Array[Array[Array[Double]]] = quantizer.codebook
  }

  /** The session-trained quantizer per corpus snapshot
    * ([[graft.SessionCache.dirKey]]): ~1k doubles of driver metadata,
    * trained once and shared by every build, search and join over that
    * corpus. */
  private val quantizerMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Quantizer]()

  /** The IVF+PQ quantizer of the corpus at `dir`, trained on first use.
    * Training runs outside the map (a Spark job inside computeIfAbsent
    * blocks every thread hashing to the same bin); a racing duplicate
    * training is deterministic, so either result serves. */
  private[graft] def corpusQuantizer(spark: SparkSession, dir: String): Quantizer = {
    val key = graft.SessionCache.dirKey(dir)
    Option(quantizerMemo.get(key)).getOrElse {
      val q = trainQuantizer(spark, dir)
      Option(quantizerMemo.putIfAbsent(key, q)).getOrElse(q)
    }
  }

  /** Train the coarse cells and the residual PQ codebook, FAISS's
    * train-once split. Each trains on a bounded deterministic sample of
    * the corpus with its planted twins, ~64 vectors per cell or code:
    * the rows whose xxhash64(vec_id) falls in residue class 0 of
    * `n / cap + 1`, or every row when n is under the cap.
    *  - cells: [[kmeansLite]]'s Lloyd over the cell sample, seed order;
    *  - codebook: one 16-code k-means per 8-dim sub-block, trained on
    *    RESIDUALS (vec − the centroid of its [[nearestCell]]), each block
    *    sliced from the same seed-ordered residual sample. Residual
    *    encoding is the FAISS IVFPQ default: the coarse quantizer removes
    *    the between-cell component, so the PQ budget quantizes only the
    *    within-cell displacement — tighter codes, better shortlist
    *    ordering at the same 8 bytes/vector.
    * One collect per distinct sample: when both caps select the same
    * rows (k = 16 cells, or n under both caps) one collect serves both. */
  private def trainQuantizer(spark: SparkSession, dir: String): Quantizer = {
    val n = corpusSize(spark, dir)
    val k = ivfCells(n)
    val base = withPlanted(vectors(spark, dir))
    def stride(cap: Long): Option[Long] = if (n > cap) Some(n / cap + 1) else None
    def sample(st: Option[Long]): Array[Array[Double]] = seedOrdered(st.fold(base)(m =>
      base.filter(pmod(xxhash64(col("vec_id")), lit(m)) === 0)))
    val cellStride = stride(64L * k)
    val cellSample = sample(cellStride)
    val centroids = lloyd(cellSample, k, iters = 3)
    // probe selection ranks exactly k cells; a short quantizer (corpus
    // under k vectors) would make nProbe/k coverage claims wrong
    require(centroids.length == k,
      s"IVF: quantizer has ${centroids.length} cells, need $k " +
        s"(training corpus too small)")
    val cnorms = centroids.map(sqNorm)
    val pqStride = stride(64L * PqCells)
    val pqSample = if (pqStride == cellStride) cellSample else sample(pqStride)
    val dim = centroids.head.length
    require(dim % PqBlocks == 0, s"PQ: dim $dim not divisible by $PqBlocks blocks")
    val sub = dim / PqBlocks
    val resid = pqSample.map { v =>
      val c = centroids(nearestCell(v, centroids, cnorms))
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val codebook = Array.tabulate(PqBlocks) { b =>
      val cb = lloyd(resid.map(_.slice(b * sub, (b + 1) * sub)), PqCells, iters = 3)
      // the ADC lookup indexes a DENSE blocks x codes table
      // (slot = b*PqCells + code) — a short codebook (training sample
      // under PqCells rows) would silently shift every later block's
      // distances, so fail loudly instead
      require(cb.length == PqCells,
        s"PQ block $b: codebook has ${cb.length} cells, need $PqCells " +
          s"(training corpus too small to train a PQ quantizer)")
      cb
    }
    Quantizer(centroids, cnorms, codebook)
  }

  /** The IVF+PQ index of the corpus at `dir`: the memoized quantizer
    * ([[corpusQuantizer]]) and the corpus codes as one typed map over
    * [[encodeVector]] ([[encodeWithIndex]], the store-append kernel). The
    * codes frame is lazy: a consumer encodes as it scans, and the
    * session keeps no view of it. */
  private[graft] def buildIvfPqIndex(spark: SparkSession, dir: String): IvfPqIndex = {
    val q = corpusQuantizer(spark, dir)
    IvfPqIndex(encodeWithIndex(spark, vectors(spark, dir), q), q)
  }

  /** IVF+PQ ANN top-k — the canonical large-corpus serving shape (FAISS
    * IVFPQ, RESIDUAL-encoded since r9): IVF probes bound the candidate
    * set sublinearly, codes quantize each vector's residual re its
    * coarse centroid, and the asymmetric-distance tables use the FAISS
    * precomputed-tables decomposition — a query-independent per-cell
    * table plus a cell-independent per-query table, each packed as ONE
    * broadcastable array of blocks·cells slots — so candidates are
    * ranked from their 8-code representation ALONE via two fused lookup
    * walks per candidate inside whole-stage codegen (no per-block row
    * explosion, no per-(query,cell) table build), and only the bounded
    * shortlist pays an exact-cosine re-rank against real vectors. At 100 TB the full-precision corpus
    * stays on disk; the serving working set is the code table at a ~32x
    * compression. Output contract matches the other ann entries;
    * SimilaritySpec gates planted-recall and shortlist behavior. */
  def annTopkIvfPqRanked(spark: SparkSession, dir: String,
      queryStride: Long = 1L): DataFrame =
    ivfPqServe(spark, dir, queryStride, buildIvfPqIndex(spark, dir))

  // ---- the quantizer on the driver: the one encoder (build, append,
  // kNN graph) and the probe plans (IVF-flat, serve, kNN). Each rule is
  // the frame algebra's, term for term, so cells, codes and scores stay
  // bit-identical to an in-plan evaluation: every dot product sums left
  // to right (the `dot_product` kernel's order), doubles compare as
  // Spark orders them, and ties go to the lowest id (SimilaritySpec
  // keeps the frame algebra as the reference).

  /** Spark's double ordering: 0.0 equals -0.0, NaN sorts above all. */
  private def cmpDouble(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Left-to-right dot product of a[off, off + b.length) and b — the
    * `dot_product` kernel over `slice(a, off + 1, b.length)`. */
  private def dotAt(a: Array[Double], off: Int, b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < b.length) { s += a(off + i) * b(i); i += 1 }
    s
  }

  /** The nearest cell of `v` by ‖v‖² − 2⟨v,C⟩ + cnorm, ties to the lowest
    * cell — the one routing rule of training, encode and search. */
  private def nearestCell(v: Array[Double], centroids: Array[Array[Double]],
      cnorms: Array[Double]): Int = {
    val vn = dot(v, v)
    var cell = 0
    var best = 0.0
    var c = 0
    while (c < centroids.length) {
      val d = vn - dot(v, centroids(c)) * 2.0 + cnorms(c)
      if (c == 0 || cmpDouble(d, best) < 0) { best = d; cell = c }
      c += 1
    }
    cell
  }

  /** (cell, codes) of one vector under a frozen quantizer: its
    * [[nearestCell]]; the residual r = v − C; per block b the code k
    * minimizing ‖cb_k‖² − 2⟨r_b, cb_k⟩, ties to the lowest code. */
  private[graft] def encodeVector(v: Array[Double], q: Quantizer): (Int, Array[Int]) = {
    val cell = nearestCell(v, q.centroids, q.cnorms)
    val cv = q.centroids(cell)
    val r = Array.tabulate(v.length)(i => v(i) - cv(i))
    val codes = Array.tabulate(q.codebook.length) { b =>
      val (cb, norms) = (q.codebook(b), q.codeNorms(b))
      val off = b * cb(0).length
      var code = 0
      var bestD = 0.0
      var k = 0
      while (k < cb.length) {
        val d = norms(k) - dotAt(r, off, cb(k)) * 2.0
        if (k == 0 || cmpDouble(d, bestD) < 0) { bestD = d; code = k }
        k += 1
      }
      code
    }
    (cell, codes)
  }

  /** The `nProbe` cells a query probes, ranked by
    * (‖q‖² − 2⟨q,C⟩ + cnorm, cell), each with __qc = −2⟨q,C⟩, the one
    * query × cell term of the residual-ADC decomposition. */
  private[graft] def probeCells(qv: Array[Double], q: Quantizer,
      nProbe: Int): Array[(Int, Double)] = {
    val qq = dot(qv, qv)
    Array.tabulate(q.nCells) { c =>
      val qc = dot(qv, q.centroids(c))
      (c, qq - qc * 2.0 + q.cnorms(c), qc * -2.0)
    }.sortWith { (a, b) =>
      val k = cmpDouble(a._2, b._2)
      if (k != 0) k < 0 else a._1 < b._1
    }.take(nProbe).map(p => (p._1, p._3))
  }

  /** A query's packed T3 table: slot b·[[PqCells]] + k holds −2⟨q_b, cb_k⟩
    * (the cell-independent half of the residual-ADC decomposition). */
  private[graft] def pqT3(qv: Array[Double], codebook: Array[Array[Array[Double]]]): Array[Double] =
    Array.tabulate(codebook.length * PqCells) { slot =>
      val cb = codebook(slot / PqCells)(slot % PqCells)
      dotAt(qv, (slot / PqCells) * cb.length, cb) * -2.0
    }

  /** Encode a batch of (vec_id, vec) against a FROZEN quantizer —
    * nearest stored cell, residual PQ codes from the stored codebook —
    * returning (vec_id, cell, codes) rows, the shape of
    * [[IvfPqIndex.withCodes]] (the build's corpus encode and the
    * [[graft.sources.AnnIndexStore.append]] ingestion kernel). One map
    * over the batch with the quantizer in the task closure
    * ([[encodeVector]]): no join, no shuffle, for any batch size; no
    * retraining, no base-corpus touch. */
  private[graft] def encodeWithIndex(spark: SparkSession, batch: DataFrame,
      q: Quantizer): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val dim = q.centroids.head.length
    batch.select(col("vec_id"), col("vec")).as[(Long, Array[Double])]
      .map { case (id, v) =>
        require(v != null && v.length == dim,
          s"IVF+PQ encode: vector $id is ${Option(v).map(_.length + "-dim").getOrElse("null")}, " +
            s"the index is $dim-dim")
        val (cell, codes) = encodeVector(v, q)
        (id, cell, codes)
      }
      .toDF("vec_id", "cell", "codes")
  }

  /** Serve IVF+PQ top-k from an INDEX VALUE — session-built or loaded
    * from [[graft.sources.AnnIndexStore]]; queries and the exact-rerank
    * vectors come from the corpus at `dir`, plus `extraVectors`
    * (vec_id, vec) for vectors indexed AFTER the build (the store's
    * append path): without them an appended candidate would survive ADC
    * ranking only to be silently dropped by the rerank's corpus join —
    * the exact "silently-wrong neighbors" failure the store exists to
    * prevent. Appended ids must not collide with the corpus or the
    * planted-query (+1e6) id space.
    *
    * The query slice is collected ONCE and the probe plan is made on the
    * driver ([[probeCells]], [[pqT3]], [[pqT2Rows]]), so no window, no
    * cross join and no T3 aggregation runs in the plan. The plan gets
    * small local relations: per probed cell its T2 and the
    * (query_id, __qc) probes that reach it, T3 per query, and the
    * queries for the rerank. The distributed part is the codes scan,
    * the ADC scoring, the per-query shortlist and the exact rerank. */
  private[graft] def ivfPqServe(spark: SparkSession, dir: String,
      queryStride: Long, idx: IvfPqIndex,
      extraVectors: Option[DataFrame] = None): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val nProbe = ivfProbes(idx.nCells)
    val qs = querySlice(spark, dir, queryStride)
    val queries = qs.toSeq.toDF("query_id", "qvec")
    // Residual ADC via the FAISS precomputed-tables decomposition: a
    // naive residual lookup table is per (query, probed cell) — a
    // queries×nProbe×(blocks·cells) build (measured 2.6x the serving
    // cost at x10). Decompose instead:
    //   ‖q − C − r‖² = ‖q‖² + (−2⟨q,C⟩) + Σ_b ‖C_b + r_b‖² + Σ_b −2⟨q_b, r_b⟩
    // ‖q‖² is rank-constant per query (dropped); −2⟨q,C⟩ rides the probe
    // (`__qc`); T2[cell] = packed ‖C_b + cb‖² slots is QUERY-independent;
    // T3[query] = packed −2⟨q_b, cb⟩ slots is CELL-independent. Per
    // candidate the score is two fused AdcLookup walks + one scalar add,
    // all inside codegen.
    // One row per probed cell: its T2 and the (query_id, __qc) probes
    // that reach it, so the probe join and the T2 join are one broadcast
    // (cells × 128 doubles + queries × nProbe pairs).
    val probed = qs.toSeq.flatMap { case (id, qv) =>
      probeCells(qv, idx.quantizer, nProbe).map { case (cell, qc) => (cell, (id, qc)) }
    }.groupBy(_._1)
    val cellSide = pqT2Rows(probed.keys.toSeq.sorted.map(c => (c, idx.quantizer.centroids(c).toSeq)),
        idx.codebook, idx.codebook.head.head.length)
      .map { case (cell, t2) => (cell, t2, probed(cell).map(_._2)) }
      .toDF("cell", "t2", "probes")
    val t3 = qs.toSeq.map { case (id, qv) => (id, pqT3(qv, idx.codebook).toSeq) }
      .toDF("query_id", "t3")
    // one row per candidate: ADC = __qc + T2-walk + T3-walk via the
    // native codegen'd [[graft.functions.AdcLookup]] kernel — the
    // earlier `aggregate()` HOF form ran interpreted per candidate (HOFs
    // sit outside whole-stage codegen), and this stream is the plan's
    // only O(queries x probed-corpus) volume (differential-tested
    // against the HOF algebra in SimilaritySpec); candidates carry
    // (query_id, vec_id, codes, −2⟨q,C⟩, T2) — no vectors move
    val approx = idx.withCodes.join(broadcast(cellSide), "cell")
      .select(col("vec_id"), col("codes"), col("t2"), inline(col("probes")))
      .withColumnsRenamed(Map("_1" -> "query_id", "_2" -> "__qc"))
      .join(broadcast(t3), "query_id")
      .select(col("query_id"), col("vec_id"),
        (col("__qc")
          + GraftFunctions.adcLookup(col("codes"), col("t2"), PqCells)
          + GraftFunctions.adcLookup(col("codes"), col("t3"), PqCells)).as("__adc"))
    // the exact-re-rank shortlist must grow with the candidate stream:
    // ADC error is per-candidate noise, so at a FIXED depth a 10x larger
    // probed set pushes true neighbors below the cut with growing
    // probability (measured: ivfpq mean recall 26 vs ivf 48 at the x10
    // amplified corpus with depth 50). n/20 against a cap of
    // max(400, 4·sqrt(n)) keeps the re-rank bounded while tracking the
    // stream: the r9-measured 400 knee still rules every bench scale
    // (the sqrt term stays under it until n ≈ 10k), but a FIXED 400
    // starved the x30 corpus one point below the 50 floor (mean 49 —
    // the kNN-join cap disease, r11); at 4·sqrt(n) the rerank term is
    // ~n^0.5 per query, noise next to the n/4 ADC candidate stream it
    // cuts, and x30 re-measures above the floor.
    val nCorpus = corpusSize(spark, dir)
    val serveCap = math.max(400, 4 * math.ceil(math.sqrt(nCorpus.toDouble)).toInt)
    val shortlistDepth = math.max(50, math.min(serveCap, (nCorpus / 20).toInt))
    val shortlist = graft.plans.TopK.topKPerGroup(approx, shortlistDepth,
      Seq(col("query_id")), Seq(col("__adc"), col("vec_id")))
    val corpusBase = withPlanted(vectors(spark, dir)).filter(col("vec_id") < PlantedIdOffset)
    val base = extraVectors.fold(corpusBase)(ev =>
      corpusBase.unionByName(ev.select(col("vec_id"), col("vec"))))
    rankedTop10(shortlist
      .join(base, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos")))
  }

  /** Driver-contract IVF+PQ entry: the ranked search through the
    * [[recallGate]]. */
  def qAnnTopkIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    recallGate(spark, dir, annTopkIvfPqRanked(spark, dir, st), IvfPqMinMeanRecallPct, st)
  }

  /** Id offset for the deterministic append batch of [[qAnnIndexServe]]:
    * exact copies of the planted-query source vectors, re-keyed above
    * the planted-twin band ([2e6, 3e6) vs twins at [1e6, 2e6)). An exact
    * copy encodes to the IDENTICAL cell+codes under the frozen quantizer
    * and ties its source on exact cosine, so the (cos desc, vec_id)
    * tie-break pins it at rank 2 behind the source — a deterministic,
    * oracle-assertable witness that appended vectors are genuinely
    * ADC-ranked AND exact-reranked by the serving path. */
  private[graft] val AppendIdOffset = 2000000L

  private[graft] def appendBatch(spark: SparkSession, dir: String): DataFrame =
    vectors(spark, dir).filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + AppendIdOffset).as("vec_id"), col("vec"))

  /** Driver-contract entry for the PERSISTED index lifecycle (VERDICT
    * r10 ask #2) — the real deployment shape a serving fleet runs, end
    * to end in one entry: build + persist the IVF+PQ index
    * ([[graft.sources.AnnIndexStore.write]] — lake tables + the
    * snapshot property), APPEND a batch with the frozen quantizer (FAISS `add()`
    * semantics — no retrain), then reload from disk and serve top-k from
    * the STORE (codes/cells/codebook all read back from parquet, never
    * from session state; reference analogue: the incremental re-import
    * path, import_cards.py:287-336).
    *
    * Gate: the served ranking is compared against the exact brute truth
    * over the POST-APPEND corpus (base ∪ batch — the appended twin IS
    * the genuine #2 neighbor of its query, so truth must include it) at
    * the same [[IvfPqMinMeanRecallPct]] floor, plus `append_rank2_ok`:
    * the appended exact copy of each gated query's source must be served
    * at rank 2 (identical codes → identical ADC → shortlisted; identical
    * vector → tied exact cosine → id tie-break behind the source). A
    * stale store, a dropped appended vector (the orphan-codes failure
    * [[graft.sources.AnnIndexStore.serve]]'s union guards), or a
    * round-trip precision loss each flip a boolean and break the hash
    * gate. */
  def qAnnIndexServe(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    val path = graft.SessionCache.scratchPath(s"graft_ann_store_${graft.SessionCache.dirKey(dir)}")
    // eager lifecycle: write() rebuilds (clearing any prior invocation's
    // appends — idempotent per invocation), append() encodes the batch
    // with the frozen quantizer; both complete before the lazy serve
    // below ever reads the store.
    // The batch (n/25 rows — batch-sized, not corpus-sized) materializes
    // ONCE: the append write and the truth side both consumed it as
    // separate plans, each re-running the corpus scan + filter.
    val batch = appendBatch(spark, dir).localCheckpoint()
    graft.sources.AnnIndexStore.write(spark, dir, path)
    // the ingest client holds the loaded index across appends; this read
    // loads cells + codebook from parquet (once per build — they are
    // frozen at write), and serve below reloads the codes from the
    // STORE — that reload is the entry's point
    val loaded = graft.sources.AnnIndexStore.read(spark, dir, path)
    graft.sources.AnnIndexStore.append(spark, dir, path, batch, Some(loaded))
    val ranked = graft.sources.AnnIndexStore.serve(spark, dir, path, st)
    val truth = bruteTruthTop10(spark, dir, st, Some(batch))
      .select(col("query_id"), col("vec_id"), lit(true).as("in_brute"))
    val perQuery = ranked
      .join(truth, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(when(col("in_brute"), 1).otherwise(0)).as("__hits"),
        max(when(col("rank") === 1, col("vec_id"))).as("__top1"),
        max(when(col("rank") === 2, col("vec_id"))).as("__rank2"))
    val meanOk = perQuery.agg(
      (sum(col("__hits")) * 10 >= lit(IvfPqMinMeanRecallPct.toLong) * count(lit(1)))
        .as("mean_recall_ok"))
    perQuery.join(broadcast(meanOk), lit(true))
      .select(col("query_id"),
        lit(10L).as("k"),
        col("mean_recall_ok"),
        (col("__top1") === col("query_id") - PlantedIdOffset).as("top1_ok"),
        (col("__rank2") === col("query_id") - PlantedIdOffset + AppendIdOffset)
          .as("append_rank2_ok"))
      .orderBy("query_id")
  }

  /** ANN-index MAINTENANCE lifecycle (r14 — the [[graft.sources.DedupIndexStore]]
    * maintenance story mirrored onto the serving index, closing the
    * compliance hole where a GDPR erasure of documents strands their
    * EMBEDDINGS rankable in the index): build + persist, APPEND the
    * planted batch in TWO halves (fragmenting the codes store one
    * parquet file per batch), COMPACT the store (the entry
    * REQUIRES the fragment count shrank; row-invisible), then RETRACT
    * the odd half (source ids ≡ 25 mod 50) — a filtered O(index)
    * rewrite under the frozen quantizer, no k-means / PQ re-encode —
    * and serve. Gates per query: the recall floor against brute truth
    * over the SURVIVOR corpus, top1 = the planted base twin, and
    * `append_ok` split by class — surviving-twin queries must serve the
    * twin at rank 2 (compaction + retraction didn't disturb neighbors),
    * retracted-twin queries must NEVER see the twin in their top-10 (a
    * stranded code or rerank vector resurfaces it and flips the
    * boolean). */
  def qAnnIndexMaintain(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    val path = graft.SessionCache.scratchPath(s"graft_ann_maint_${graft.SessionCache.dirKey(dir)}")
    // materialize the batch ONCE (n/25 rows): its corpus scan + filter
    // otherwise re-runs for each consumer — two appends, the retraction
    // key set, and the truth side (4 scans per invocation)
    val batch = appendBatch(spark, dir).localCheckpoint()
    val srcId = col("vec_id") - AppendIdOffset
    val surviving = batch.filter(srcId % 50 === 0)
    val retracted = batch.filter(srcId % 50 === 25)
    graft.sources.AnnIndexStore.write(spark, dir, path)
    // the client holds the loaded index across both appends (the
    // qAnnIndexServe note); the post-maintenance serve reloads the store
    val loaded = graft.sources.AnnIndexStore.read(spark, dir, path)
    graft.sources.AnnIndexStore.append(spark, dir, path, surviving, Some(loaded))
    graft.sources.AnnIndexStore.append(spark, dir, path, retracted, Some(loaded))
    val fragsBefore = graft.sources.AnnIndexStore.codesFragments(path)
    graft.sources.AnnIndexStore.compactIndexFiles(spark, dir, path, targetFiles = 2)
    val fragsAfter = graft.sources.AnnIndexStore.codesFragments(path)
    require(fragsAfter <= 2 && fragsAfter < fragsBefore,
      s"ann_index_maintain: compaction had no effect ($fragsBefore -> $fragsAfter fragments)")
    graft.sources.AnnIndexStore.retract(spark, dir, path, retracted.select("vec_id"))
    val ranked = graft.sources.AnnIndexStore.serve(spark, dir, path, st)
    val truth = bruteTruthTop10(spark, dir, st, Some(surviving))
      .select(col("query_id"), col("vec_id"), lit(true).as("in_brute"))
    val twinId = col("query_id") - PlantedIdOffset + AppendIdOffset
    val perQuery = ranked
      .join(truth, Seq("query_id", "vec_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(when(col("in_brute"), 1).otherwise(0)).as("__hits"),
        max(when(col("rank") === 1, col("vec_id"))).as("__top1"),
        max(when(col("rank") === 2, col("vec_id"))).as("__rank2"),
        max(when(col("vec_id") === twinId, 1L).otherwise(0L)).as("__twin_seen"))
    val meanOk = perQuery.agg(
      (sum(col("__hits")) * 10 >= lit(IvfPqMinMeanRecallPct.toLong) * count(lit(1)))
        .as("mean_recall_ok"))
    perQuery.join(broadcast(meanOk), lit(true))
      .select(col("query_id"),
        lit(10L).as("k"),
        col("mean_recall_ok"),
        (col("__top1") === col("query_id") - PlantedIdOffset).as("top1_ok"),
        when((col("query_id") - PlantedIdOffset) % 50 === 0, col("__rank2") === twinId)
          .otherwise(col("__twin_seen") === 0L).as("append_ok"))
      .orderBy("query_id")
  }

  // ---- corpus-scale kNN-graph join (VERDICT r9 ask #1) ----

  /** Probe cells per GRAPH vector for the kNN-graph join. Unlike the
    * serve path's pinned 1/4 cell FRACTION (bounded query set), here the
    * query set IS the corpus: a pinned fraction would make the candidate
    * stream n²/denom — the quadratic this operator exists to avoid. But
    * a FIXED probe count silently starves recall as cells grow ~sqrt(n)
    * (VERDICT r10 ask #4, measured: the r10-adopted p4 falls from mean
    * 57 at sf0.1 to 27 at the x30 amplified corpus). The r11 adaptive
    * pin is probes = ceil(sqrt(2K)) — n^0.25 growth, candidate stream
    * n · sqrt(2K) · n/K ~ n^1.75, still sub-quadratic — which
    * re-measures at x30 (K=87 → p14, with the matching rerank cap
    * below) as mean 55 vs the 50 floor: the asked ≥5-point margin. At
    * the ORACLE-ASSERTED gate scales (K=16 → p6) the r10 sweep already
    * measured 67/69 mean — the committed floor's margin WIDENS there.
    * On uniform-random vectors (the amplified corpus — IVF's worst
    * case) holding recall truly constant needs a fixed probed FRACTION,
    * i.e. a quadratic stream; this schedule is the documented
    * sub-quadratic compromise, and `graft.knn.probe.cells` remains the
    * production knob for clustered spaces where fixed probes hold. */
  private[graft] def KnnProbeCells(nCells: Int): Int =
    sys.props.get("graft.knn.probe.cells").map(_.toInt)
      .getOrElse(math.max(4, math.ceil(math.sqrt(2.0 * nCells)).toInt))

  /** Exact-rerank shortlist depth per graph vector: tracks the per-query
    * candidate stream like the serve path (ADC error is per-candidate
    * noise) but with a lower cap — the rerank pays n·depth exact
    * cosines. The r10 sweep showed depth, not probe count, is the
    * binding recall limiter at sf0.1 (probes 3→6 moved mean recall
    * 42→44 at div 50, while div 50→10 moved it 42→51 at probes 3): the
    * probed cells DO hold the true neighbors; ADC noise pushes them
    * below a shallow cut. n/10 against a cap of max(200, 4·sqrt(n)) is
    * the re-pinned r11 schedule: the old fixed 200 bound recall at ~32
    * at x30 regardless of probes (the x30 sweep's c200 vs c800 rows);
    * the sqrt cap keeps the rerank ~n^1.5 — below the candidate stream
    * it cuts. At the gate scales (and sf0.1) the cap still evaluates
    * to 200, so nothing re-measures there. */
  private def knnShortlistDepth(n: Long): Int = {
    val div = sys.props.get("graft.knn.shortlist.div").map(_.toInt).getOrElse(10)
    val cap = sys.props.get("graft.knn.shortlist.cap").map(_.toInt)
      .getOrElse(math.max(200, 4 * math.ceil(math.sqrt(n.toDouble)).toInt))
    math.max(30, math.min(cap, (n / div).toInt))
  }

  /** Every graph vector's top-10 neighbors — the corpus-scale kNN-graph
    * self-join (the primitive behind SemDeDup-at-scale tuning,
    * curriculum dedup, and density-based filtering), served through the
    * corpus IVF+PQ quantizer as an index-to-index join. NEVER the O(n²)
    * cosine self-join. The graph is the base corpus plus its planted
    * twins, and every graph vector is a query:
    *
    *  1. probes: one typed flatMap per graph vector emits its
    *     [[KnnProbeCells]] nearest cells ([[probeCells]], each with its
    *     __qc = −2⟨q,C⟩) and carries its T3 ([[pqT3]], the
    *     cell-independent ADC half) on every probe row — corpus-wide T3
    *     cannot broadcast, and riding the ×P probe rows lets the
    *     candidate stream inherit it through the cell join without ever
    *     shuffling candidates on query_id;
    *  2. graph codes: one map over [[encodeWithIndex]], the store-append
    *     kernel, so the twins are encoded exactly as late-indexed
    *     vectors would be in production;
    *  3. candidates: probes ⋈ graph codes ON CELL — the stream is
    *     n · probes · cellsize rows of (codes, ADC terms), no vectors —
    *     ranked from the 8-byte codes by the same residual
    *     precomputed-tables decomposition as [[ivfPqServe]]: __qc + the
    *     T2 walk (per cell, broadcast from the driver) + the T3 walk;
    *  4. bounded exact re-rank: top-[[knnShortlistDepth]] per query by
    *     ADC (slim (query_id, vec_id, __adc) rows through the heap
    *     operator), then exact cosine against the graph vectors.
    *
    * Self-edges are excluded in-plan. Output: (query_id, rank, vec_id,
    * cos_ppm) for EVERY graph vector — base corpus and twins. */
  def annKnnJoinRanked(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val q = corpusQuantizer(spark, dir)
    val qframe = withPlanted(vectors(spark, dir))
    val nProbe = KnnProbeCells(q.nCells)

    // 1. probes with their T3
    val probes = qframe.select(col("vec_id"), col("vec")).as[(Long, Array[Double])]
      .flatMap { case (id, qv) =>
        val t3 = pqT3(qv, q.codebook)
        probeCells(qv, q, nProbe).map { case (cell, qc) => (id, cell, qc, t3) }
      }
      .toDF("query_id", "cell", "__qc", "t3")

    // 3. T2 (query-independent half) from driver-side quantizer metadata
    val t2 = broadcast(
      pqT2Rows(q.centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) },
        q.codebook, q.codebook.head.head.length)
        .toDF("cell", "t2"))

    // 2+3. candidates inherit T3 through the cell join; ADC is computed
    // in the same stage, so the only thing that ever shuffles on
    // query_id is the slim (query_id, vec_id, __adc) stream below
    val approx = probes
      .join(encodeWithIndex(spark, qframe, q), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(t2, "cell")
      .select(col("query_id"), col("vec_id"),
        (col("__qc")
          + GraftFunctions.adcLookup(col("codes"), col("t2"), PqCells)
          + GraftFunctions.adcLookup(col("codes"), col("t3"), PqCells)).as("__adc"))

    // 4. bounded exact re-rank
    val shortlist = graft.plans.TopK.topKPerGroup(approx,
      knnShortlistDepth(corpusSize(spark, dir)),
      Seq(col("query_id")), Seq(col("__adc"), col("vec_id")))
    rankedTop10(shortlist
      .join(qframe, "vec_id")
      .join(qframe.select(col("vec_id").as("query_id"), col("vec").as("qvec")), "query_id")
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos")))
  }

  /** Graph-brute truth on the bounded twin sample: candidates = the FULL
    * graph minus self (a twin's neighbors legitimately include other
    * twins, so [[bruteTruthTop10]] — base-corpus candidates only — would
    * be the WRONG denominator here). */
  private def knnBruteTruth(spark: SparkSession, dir: String,
      queryStride: Long): DataFrame = {
    val qframe = withPlanted(vectors(spark, dir))
    val queries = qframe.filter(col("vec_id") >= PlantedIdOffset)
      .filter(inGateSample(col("vec_id"), queryStride))
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    rankedTop10(qframe.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        GraftFunctions.cosineSim(col("qvec"), col("vec")).as("__cos")))
  }

  /** [[annKnnJoinRanked]] restricted to the gated twin sample, exposed
    * for RecallProbe floor measurement. */
  private[graft] def knnRankedForProbe(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    annKnnJoinRanked(spark, dir)
      .filter(col("query_id") >= PlantedIdOffset)
      .filter(inGateSample(col("query_id"), st))
  }

  /** [[knnBruteTruth]] exposed for the RecallProbe diagnostic main. */
  private[graft] def knnTruthForProbe(spark: SparkSession, dir: String): DataFrame =
    knnBruteTruth(spark, dir, gateStride(spark, dir))

  /** Measured-floor mean recall for the kNN-graph join (percent of the
    * graph-brute top-10 over the sampled twins), from [[graft.RecallProbe]]
    * at the adopted dials (probes 4, shortlist n/10): means 62/65/57 at
    * sf0.001/0.01/0.1. 50 sits ≥12 points under both ORACLE-ASSERTED
    * scales (specs at 0.001, driver at 0.01) and still under the sf0.1
    * bench measurement; the residual sub-serve recall is the honest
    * uniform-random-corpus geometry (cell pruning's worst case — same
    * note as the serve floors), priced against the n² brute join this
    * operator replaces. */
  private[graft] val KnnMinMeanRecallPct = 50

  /** Driver-contract kNN-graph entry: the FULL graph join (every corpus
    * vector's neighbors are computed — that is the operator being
    * priced), gated on the bounded twin sample against the graph-brute
    * truth (the [[recallGate]] pattern: booleans the DuckDB oracle
    * asserts literally TRUE; truth cost stays O(sample · n)). top1_ok
    * holds because a twin's nearest graph neighbor is its cos≈1 source;
    * mean_recall_ok floors the probe-narrowed recall. */
  def qAnnKnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    val sampled = annKnnJoinRanked(spark, dir)
      .filter(col("query_id") >= PlantedIdOffset)
      .filter(inGateSample(col("query_id"), st))
    gateAgainstTruth(sampled,
      knnBruteTruth(spark, dir, st)
        .select(col("query_id"), col("vec_id"), lit(true).as("in_brute")),
      KnnMinMeanRecallPct)
  }

  /** kNN-graph DENSITY scores — the density-based filtering primitive on
    * top of the graph join (SemDeDup prototype selection, outlier /
    * low-quality-region pruning, curriculum ordering all consume exactly
    * this statistic): every graph vector's density = mean cosine to its
    * top-10 graph neighbors. A vector in a crowded semantic region (or
    * with a planted near-duplicate) scores high; an isolated outlier
    * scores low — the signal a density filter thresholds on.
    *
    * The priced operator is the FULL corpus pass ([[annKnnJoinRanked]]
    * recomputed standalone — this entry prices a density pass, not a
    * cache probe) plus one map-side-combined groupBy(query_id) and a
    * corpus-wide median over the n density rows (one slim row per
    * vector). The gate rides the bounded twin sample: a twin has a
    * cos≈1 neighbor by construction, so its density must land ABOVE the
    * corpus-wide median (`above_median_ok` — the discriminative property
    * the filter exists for; margin ≈ (1e6 − cos@rank10)/10 ppm, far
    * above approximation noise) and its best neighbor must be near-unit
    * (`src_near_ok`). `n_scored` proves the pass covered the whole
    * graph — the oracle recomputes the expected corpus+twins count.
    *
    * The median rides the SAME two-pass histogram-refinement kernel as
    * `q_percentiles` ([[graft.operators.Relational.exactQuantilesByRank]]
    * over one global group) — never the single-buffer exact `percentile`
    * aggregate, which would pull all n density rows into one task's
    * buffer at fleet scale (VERDICT r10 ask #1; SimilaritySpec asserts
    * the plan carries no Percentile aggregate). Density rides as
    * `sum(cos_ppm)` (exact long; every graph vector has exactly k=10
    * neighbor rows, so sum-above-median ⟺ mean-above-median — integer
    * buckets are the kernel's documented-safe input, raw double means
    * are not) and the slim n-row density frame is localCheckpointed so
    * the graph join is priced ONCE, not once per kernel pass. */
  def qEmbedKnnDensity(spark: SparkSession, dir: String): DataFrame = {
    val st = gateStride(spark, dir)
    val dens = annKnnJoinRanked(spark, dir)
      .groupBy("query_id")
      .agg(sum(col("cos_ppm")).as("density_sum"), max(col("cos_ppm")).as("max_cos_ppm"))
      .localCheckpoint()
    val med = graft.operators.Relational.exactQuantilesByRank(
      dens.withColumn("__g", lit(1)), "__g",
      Seq((col("density_sum").cast("double"), Seq("med" -> 0.5))))
      .select(col("med"))
    val stats = med.crossJoin(dens.agg(count(lit(1)).as("n_scored")))
    dens.filter(col("query_id") >= PlantedIdOffset)
      .filter(inGateSample(col("query_id"), st))
      .crossJoin(broadcast(stats))
      .select(col("query_id"), lit(10L).as("k"), col("n_scored"),
        (col("density_sum").cast("double") > col("med")).as("above_median_ok"),
        (col("max_cos_ppm") >= 985000L).as("src_near_ok"))
      .orderBy("query_id")
  }

  /** Random-projection dimensionality reduction (64 → 8), the standard
    * pre-ANN / visualization step of an embedding pipeline, composed with
    * the int8 quantizer so the whole computation is INTEGER arithmetic:
    * y_d = Σ_j q_j · w(j,d) with the deterministic sparse-JL-style weight
    * w(j,d) = ((j·131 + d·17 + j·d·29) mod 257) mod 7 − 3 ∈ [−3,3] (the
    * j·d cross term keeps output dims from being shifts of each other).
    * Integer sums are order-independent, so the DuckDB oracle reproduces
    * every value exactly — no float-summation-order hazard — and the
    * quantizer's scale invariance means a rescaled near-duplicate
    * projects IDENTICALLY (spec-asserted). Pure codegen'd column algebra
    * (`transform`/`aggregate` over the array column), no UDF: per-row
    * work, embarrassingly parallel at any corpus size. */
  def qEmbedProjectRand(spark: SparkSession, dir: String): DataFrame =
    projectQuantized(vectors(spark, dir)).orderBy("vec_id", "dim")

  /** Projection kernel over (vec_id, vec: array<double>) — factored out
    * so specs can drive it with constructed corpora. The quantize +
    * 8-way projection is the native fused
    * [[graft.functions.RandProject8]] expression (one codegen'd pass per
    * row); [[projectQuantizedAlgebra]] keeps the column-algebra form as
    * its differential-test oracle. */
  private[graft] def projectQuantized(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
        posexplode(graft.functions.GraftFunctions.randProject8(col("vec")))
          .as(Seq("dim", "y")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("y"))

  /** Column-algebra reference implementation of [[projectQuantized]] —
    * 8 x dim interpreted lambda bindings per row; kept as the
    * differential-test oracle for the native expression (SimilaritySpec
    * asserts identical output). */
  private[graft] def projectQuantizedAlgebra(df: DataFrame): DataFrame =
    df
      .withColumn("maxabs", array_max(transform(col("vec"), x => abs(x))))
      .withColumn("qvec",
        when(col("maxabs") === 0.0, transform(col("vec"), _ => lit(0)))
          .otherwise(transform(col("vec"),
            x => round(x / col("maxabs") * 127.0).cast("int"))))
      .select(col("vec_id"),
        posexplode(expr(
          """transform(sequence(0, 7), d ->
            |  aggregate(sequence(0, size(qvec) - 1), cast(0 as bigint),
            |    (acc, j) -> acc + element_at(qvec, j + 1)
            |      * (pmod(j * 131 + d * 17 + j * d * 29, 257) % 7 - 3)))""".stripMargin))
          .as(Seq("dim", "y")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("y"))

  /** Distributed power-iteration PCA: the leading principal direction of
    * the embedding corpus (the whitening / drift-monitoring / coarse-
    * projection primitive — [[qEmbedProjectRand]] is the data-oblivious
    * projection, this is the data-ADAPTIVE one), computed without ever
    * materializing the d×d covariance: three Lloyd-style rounds of
    * y = Cᵀ(Cv), each round one dot-product pass over the rows and one
    * d-sized re-aggregation. Everything is INTEGER-EXACT in the k-means
    * tradition — components quantized to milli-units (round(x·1000)),
    * truncating-division mean centering, per-row dot scores scaled
    * `DIV 1024`, and the direction renormalized each round to max-abs
    * 1000 by integer division — so the DuckDB oracle replays every
    * intermediate bit-for-bit (power iteration's self-amplification
    * would make floating-point drift compound across rounds).
    *
    * Scale shape: ZERO exchanges. The direction v and the per-dim mean
    * are bounded metadata (d = 64 longs — the quantizer-training /
    * k-means-centroid collect precedent), so each round is one narrow
    * codegen'd pass over the centered ARRAY column: the per-row dot
    * score is a fused `aggregate` over the array, and the d per-dim
    * sums y come back as 64 map-side-combined aggregate expressions in
    * a single global agg row — no explode, no shuffle, no join at any
    * corpus size. The centered frame is localCheckpoint'd once and
    * freed on exit; 1 + rounds linear passes total. */
  def qEmbedPcaPower(spark: SparkSession, dir: String): DataFrame = {
    val d = 64
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint))").as("qv"))
    // per-dim means: one agg row of d sums + the count (bounded metadata)
    val muRow = q.agg(count(lit(1)).as("n"),
      (0 until d).map(j => sum(element_at(col("qv"), j + 1)).as(s"s$j")): _*).head()
    val n = muRow.getLong(0)
    require(n > 0, "embed_pca_power: empty embeddings table")
    val mu = Array.tabulate(d)(j => muRow.getLong(j + 1) / n) // Long./ == div
    val muLit = mu.mkString("array(", "L,", "L)")
    val c = q.select(col("vec_id"),
        expr(s"transform(qv, (x, i) -> x - element_at($muLit, i + 1))").as("cv"))
      .localCheckpoint()
    var v = Array.fill(d)(1000L)
    for (_ <- 1 to 3) {
      val vLit = v.mkString("array(", "L,", "L)")
      // fused per-row dot score, then d per-dim sums — one pass, one row
      val ys = (0 until d).map(j =>
        sum(element_at(col("cv"), j + 1) * col("s")).as(s"y$j"))
      val yRow = c
        .select(col("cv"), expr(
          s"""aggregate(sequence(0, ${d - 1}), cast(0 as bigint),
             |  (acc, j) -> acc + element_at(cv, j + 1) * element_at($vLit, j + 1)) div 1024"""
            .stripMargin).as("s"))
        .agg(ys.head, ys.tail: _*)
        .head()
      val y = Array.tabulate(d)(j => yRow.getLong(j))
      val mx = math.max(y.map(math.abs).max, 1L)
      v = y.map(yj => yj * 1000L / mx)
    }
    c.unpersist()
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        v.zipWithIndex.map { case (comp, dim) =>
          org.apache.spark.sql.Row(dim.toLong, comp) }.toSeq, 1),
      StructType(Seq(StructField("dim", LongType, nullable = false),
        StructField("component", LongType, nullable = false))))
      .orderBy("dim")
  }
}
