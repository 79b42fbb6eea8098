package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators for an LLM-training-data corpus (SURVEY.md
  * §2.C): exact hash dedup, MinHash+banded-LSH near-dup, SimHash
  * fingerprinting, and n-gram Jaccard pair similarity.
  *
  * Scale shape: every variant reduces pairwise O(n²) comparison to an
  * equi-join shuffle that is linear in corpus size — exact dedup groups on
  * a content hash; MinHash/SimHash group on (band, signature) buckets and
  * only verify within buckets; Jaccard candidates come from an inverted
  * index on (rare) shingles. No driver-side collection anywhere.
  */
object DedupOps {

  /** The candidate-pair side of the prefix miners' verify joins, hinted
    * per `graft.dedup.broadcastCands` (default true): the pair list is
    * o(corpus) by construction — near-dup mining whose output
    * approaches its input is a corpus-quality incident — and the
    * broadcast verify measured 1.8x faster than the shuffle-join form
    * at sf0.1. At a corpus whose dup density makes the pair list
    * driver-hostile (a 100 TB web crawl at ~30% dups), set the conf to
    * false and BOTH verifies degrade to shuffle joins, exact result
    * unchanged (DedupSpec pins the equality) — the graceful-degradation
    * story as an actual switch instead of a code change. */
  private def candsHinted(spark: SparkSession, cands: DataFrame): DataFrame =
    if (spark.conf.getOption("graft.dedup.broadcastCands").forall(_.toBoolean))
      broadcast(cands)
    else cands

  /** Distinct n-word shingles from a pre-split words array. Callers project
    * the words column FIRST (one split per row); building shingles straight
    * off `split(text)` re-evaluates the split per sequence index. */
  def shinglesFromWords(words: Column, n: Int): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(words, i, lit(n)))))

  /** Word-shingle column: distinct n-word shingles of `text`. */
  def shingles(text: Column, n: Int): Column =
    shinglesFromWords(graft.text.TextOps.wsTokens(text), n)

  /** 64-bit hashes of a shingle set. All downstream set operations
    * (minhash, intersection counts) run on 8-byte longs instead of strings
    * — one string hash per shingle total, instead of one per permutation. */
  def hashedShingles(shingleCol: Column): Column =
    transform(shingleCol, s => xxhash64(s))

  /** Distinct n-word shingle HASHES straight from the words array — the
    * native fused [[graft.functions.ShingleHash64]] kernel, bit-identical
    * to `hashedShingles(shinglesFromWords(words, n))` (differential-
    * tested below in DedupSpec): the algebra form runs four nested
    * higher-order functions interpreted per row, which was the dominant
    * scan-side constant of every shingle miner. */
  def shingleHashes(words: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingleHash64(words, n)

  /** MinHash signature over pre-hashed shingles — the native
    * [[graft.functions.MinHashSignature]] expression: one fused codegen
    * loop per row instead of k interpreted transform+array_min passes. */
  def minhashSignature(hashedCol: Column, k: Int): Column =
    graft.functions.GraftFunctions.minHashSig(hashedCol, k)

  /** Banded-LSH candidate pairs: split the k-wide signature into bands of
    * `rowsPerBand`, bucket on (band index, band slice hash), self-join
    * buckets. Returns candidate (doc_a, doc_b) pairs with doc_a < doc_b.
    * The shuffle key is the band bucket — linear in corpus size.
    * The band count is derived from the signature width per row
    * (`size(sig) / rowsPerBand`), so any k that is a multiple of
    * rowsPerBand banding-covers the whole signature — no silent short
    * slices from a hard-coded band count. */
  /** (id, band, bucket) rows of a signature frame — the banded-LSH
    * posting list. Factored from [[lshCandidates]] so the persisted
    * dedup index ([[graft.sources.DedupIndexStore]]) materializes the
    * IDENTICAL postings the in-session candidate join derives. */
  def bandedBuckets(docs: DataFrame, idCol: String, sigCol: String,
      rowsPerBand: Int): DataFrame = {
    require(rowsPerBand > 0, s"rowsPerBand must be positive, got $rowsPerBand")
    // posexplode_outer: the plain generate would get an inferred
    // size(...)>0 pre-filter that re-evaluates the whole band transform.
    // The CASE guards signatures shorter than one band: sequence(0, -1)
    // yields a DESCENDING [0, -1] (not an empty array), which would emit a
    // bogus band that buckets every short-signature doc together — instead
    // emit no bands (posexplode_outer's null band never equi-joins).
    docs.select(
      col(idCol),
      posexplode_outer(expr(
        s"""case when size($sigCol) >= $rowsPerBand
           |then transform(sequence(0, size($sigCol) div $rowsPerBand - 1),
           |               b -> hash(slice($sigCol, b * $rowsPerBand + 1, $rowsPerBand), b))
           |else cast(array() as array<int>) end""".stripMargin))
        .as(Seq("band", "bucket"))
    )
  }

  def lshCandidates(docs: DataFrame, idCol: String, sigCol: String, rowsPerBand: Int): DataFrame = {
    val banded = bandedBuckets(docs, idCol, sigCol, rowsPerBand)
    val a = banded.select(col("band"), col("bucket"), col(idCol).as("doc_a"))
    val b = banded.select(col("band"), col("bucket"), col(idCol).as("doc_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Exact Jaccard similarity of two SORTED-DISTINCT long-array columns
    * ([[shingleHashes]] outputs) as integer counts — callers compare
    * `2 * inter >= union` etc. so no float division is involved. The
    * intersection count is the native allocation-free merge
    * [[graft.functions.SortedIntersectCount]] (raises on unsorted
    * input); [[jaccardCountsAlgebra]] keeps the generic array_intersect
    * form as its differential-test oracle. */
  def jaccardCounts(a: Column, b: Column): (Column, Column) = {
    val inter = graft.functions.GraftFunctions.sortedIntersectCount(a, b)
    val union = size(a) + size(b) - inter
    (inter, union)
  }

  /** Generic-order reference implementation of [[jaccardCounts]] — a
    * boxed hash set plus a materialized intersection array per pair;
    * kept as the differential-test oracle for the native merge
    * (DedupSpec asserts identical counts). */
  def jaccardCountsAlgebra(a: Column, b: Column): (Column, Column) = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    (inter, union)
  }

  /** 64-bit SimHash over word tokens: per bit, sum +1/-1 weighted by each
    * token's xxhash64 bit, sign → bit. Tokens are hashed ONCE into a long
    * array; the 64 per-bit folds then only shift/mask longs (codegen
    * common-subexpression elimination keeps the hash pass single). */
  def simhash64(tokens: Column): Column =
    simhashFromHashes(transform(tokens, t => xxhash64(t)))

  /** SimHash from a pre-hashed token column — the native
    * [[graft.functions.SimHash64]] expression (fused codegen loop). */
  def simhashFromHashes(hs: Column): Column =
    graft.functions.GraftFunctions.simHash64(hs)

  /** Column-algebra reference implementation of simhashFromHashes — 64
    * interpreted folds; kept as the differential-test oracle for the
    * native expression (DedupSpec asserts bit-identical output). */
  def simhashAlgebra(hs: Column): Column = {
    val n = size(hs)
    val bits = (0 until 64).map { i =>
      val ones = aggregate(hs, lit(0L), (acc, h) => acc + shiftright(h, i).bitwiseAND(1L))
      when(ones * 2 > n, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce(_ bitwiseOR _)
  }

  // ---- driver-contract queries over the documents table ----

  /** Exact dedup with planted duplicates: every 10th doc is re-keyed and
    * unioned back in, then collapsed by content hash keeping the lowest id.
    * Groups on xxhash64(text) so the shuffle carries an 8-byte key, not the
    * full text. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val planted = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    docs.unionByName(planted)
      .groupBy(xxhash64(col("text")).as("__h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).cast("long").as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** Near-dup candidate pairs via MinHash + banded LSH (16 bands x 4 rows),
    * verified with exact shingle-Jaccard >= 0.5. Oracle-gated: the DuckDB
    * oracle computes the full exact Jaccard>=0.5 pair list (same SQL as
    * `ngram_jaccard`), and the LSH-routed output must equal it — i.e. the
    * gate also proves LSH recall on this corpus (planted near-dups sit at
    * J≈0.96, where 16x4 banding recall is ~1; DedupSpec asserts equality
    * with [[qNgramJaccard]] as the in-repo signal). The shingle-hash sets
    * are cheap enough (one string hash per shingle) to recompute on each
    * side of the verification join — cheaper than pinning them in the
    * block store. */
  def qDedupMinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), graft.text.TextOps.wsTokens(col("text")).as("words"))
      .select(col("doc_id"), shingleHashes(col("words"), 3).as("sh"))
      .withColumn("sig", minhashSignature(col("sh"), 64))
    val cands = lshCandidates(docs, "doc_id", "sig", 4)
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val (inter, union) = jaccardCounts(col("sh_a"), col("sh_b"))
    // the threshold rides the verify JOIN's condition (verify-before-
    // exchange): phrased as 3*inter >= |A|+|B| (== 2*inter >= union) so
    // the condition carries ONE merge-kernel occurrence, not two — the
    // per-candidate hot path is the condition; the (inter, union)
    // projection only runs on survivors
    cands
      .join(a, "doc_a").join(b, "doc_b")
      .filter(inter * 3 >= size(col("sh_a")) + size(col("sh_b")))
      .withColumn("inter_n", inter.cast("long"))
      .withColumn("union_n", union.cast("long"))
      .select("doc_a", "doc_b", "inter_n", "union_n")
      .orderBy("doc_a", "doc_b")
  }

  /** Engine-portable 64-bit token hash: the first 8 digest bytes of
    * md5, big-endian. Unlike xxhash64 (Spark-only), md5 is bit-identical
    * across engines, so a DuckDB oracle can recompute the SAME hash —
    * `('0x' || substr(md5(t),1,16))::UBIGINT` — and therefore the same
    * simhash fingerprints and the same verified pair list. Delegates to
    * the native [[graft.functions.Md5Hash64Array]] kernel (digest bytes →
    * long directly; the earlier hex-substring/conv column algebra paid
    * two string radix conversions per token). */
  def md5Hash64(t: Column): Column =
    element_at(graft.functions.GraftFunctions.md5Hash64Array(array(t)), 1)

  /** SimHash near-dup: 64-bit fingerprints bucketed by 4 x 16-bit bands
    * (any pair within hamming distance 3 shares at least one band), then
    * exact hamming <= 3 verification via bit_count(xor). Token hash is
    * [[md5Hash64]] so the DuckDB oracle recomputes the identical
    * fingerprint pipeline — this entry is hash-gated end-to-end
    * (banding guarantees recall by pigeonhole: a pair within hamming 3
    * differs in at most 3 of the 4 bands, so at least one band matches —
    * candidates are a strict superset of the answer on both engines). */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.md5Hash64Array(
          graft.text.TextOps.wsTokens(lower(col("text")))).as("hs"))
      .select(col("doc_id"), simhashFromHashes(col("hs")).as("sh"))
    // outer generate: otherwise the inferred size(...)>0 filter re-inlines
    // sh = the full 64-fold simhash through the projection
    val banded = docs.select(
      col("doc_id"), col("sh"),
      posexplode_outer(expr("transform(sequence(0,3), b -> (sh >> (b*16)) & 65535)"))
        .as(Seq("band", "bucket")))
    val a = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** Canonical text normalization before exact dedup — the step that makes
    * exact dedup catch trivially-reformatted copies: lowercase, strip
    * non-word/non-space characters, collapse whitespace runs, trim. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^\\w\\s]", ""), "\\s+", " "))

  /** Exact dedup on NORMALIZED text: case/punctuation/whitespace variants
    * (planted per doc) collapse onto their source. */
  def qDedupNormalized(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    // plant a shouting, re-spaced variant of every 7th doc
    val variants = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(upper(col("text")), lit("  !!")).as("text"))
    docs.unionByName(variants)
      .groupBy(xxhash64(normalizeText(col("text"))).as("__h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).cast("long").as("n_copies"))
      .select("keep_id", "n_copies")
      .orderBy("keep_id")
  }

  /** Connected components over a near-dup pair list by iterative min-label
    * propagation TO A FIXPOINT: every doc starts as its own cluster; each
    * round adopts the minimum cluster id among itself and its neighbors.
    * Convergence is detected TYPE-AGNOSTICALLY — the self-loop edge row
    * (src == dst) carries each node's own previous label through the
    * propagation join, so the round's aggregate emits (new label, previous
    * label) side by side and a null-safe `!=` count says how many nodes
    * changed — no numeric-id assumption (a label SUM would return null for
    * string ids and falsely converge, and can overflow under ANSI mode),
    * and no extra join: the count scans the just-checkpointed round
    * output. Components of ANY diameter resolve (`maxIters` is a runaway
    * backstop, not a semantic bound). Each round is one join + one
    * aggregation — the standard scalable CC shape (no driver-side graph)
    * — and intermediate checkpoint blocks are unpersisted as soon as the
    * next round materializes, so repeated calls in one JVM don't
    * accumulate block-store pressure. */
  def dedupClusters(docs: DataFrame, pairs: DataFrame, maxIters: Int = 50): DataFrame =
    dedupClustersWithIters(docs, pairs, maxIters)._1

  /** [[dedupClusters]] plus the number of propagation rounds actually run
    * — exposed so specs can assert convergence (not just correctness):
    * a node set that never reaches fixpoint silently burns maxIters
    * rounds per call while still emitting the right labels. */
  private[graft] def dedupClustersWithIters(
      docs: DataFrame, pairs: DataFrame, maxIters: Int = 50): (DataFrame, Int) = {
    // Node set = docs ∪ pair endpoints. The convergence check relies on
    // every node owning exactly one self-loop edge (it carries the node's
    // previous label through the join); a node reachable only via `pairs`
    // would otherwise have a permanently-null __prev and keep the changed
    // count >0 forever — correct labels, but every call silently burns
    // all maxIters rounds.
    val nodes = docs.select(col("doc_id"))
      .unionByName(pairs.select(col("doc_a").as("doc_id")))
      .unionByName(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
    // Materialize the node set ONCE, as the initial labels: the edge
    // list's self-loops below read the checkpointed blocks instead of
    // re-running the distinct's shuffle a second time (labels and edges
    // are checkpointed separately, so an unshared `nodes` subtree would
    // execute in both).
    var labels = nodes.select(col("doc_id"), col("doc_id").as("cluster")).localCheckpoint()
    // symmetric edge list including self-loops so isolated docs keep
    // labels. localCheckpoint (eager) truncates lineage: without it every
    // propagation round re-executes the (expensive) pair-mining plan, and
    // the plan tree grows with the iteration count.
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .unionByName(labels.select(col("doc_id").as("src"), col("doc_id").as("dst")))
      .localCheckpoint()
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      // ONE materialization job per round (was two): the propagation
      // join+agg feeds the jump self-join as a shared subtree inside the
      // same plan — the shuffle is computed once (ReusedExchange) and the
      // small post-shuffle aggregation runs once per reference, which is
      // cheaper than a second full job + checkpoint barrier per round
      // (the aggregate's input is label-sized, never corpus-sized).
      // ASSUMES spark.sql.exchangeReuseEnabled (default on; ADVICE r18):
      // with reuse disabled the corpus-sized propagation join+agg executes
      // twice per round — correctness unaffected (deterministic aggregates
      // over checkpointed inputs), only the single-shuffle claim.
      val propagated = edges
        .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(
          min("cluster").as("cluster"),
          // every node has exactly one self-loop, so this picks out its
          // own label from the previous round (works for any label type)
          max(when(col("src") === col("dst"), col("cluster"))).as("__prev"))
      // Pointer jumping: replace each node's label with its LABEL's label
      // (labels are themselves node ids, so the lookup is a self-join on
      // this round's output). Min-propagation alone needs O(diameter)
      // rounds — a chain of 1000 near-dups pays ~1000 localCheckpoint
      // barriers; shortcutting doubles the hop distance covered per round,
      // making rounds O(log diameter) (Shiloach-Vishkin style). One extra
      // equi-join per round, same linear shuffle volume.
      val next = propagated.as("n")
        .join(
          propagated.select(col("doc_id").as("cluster"), col("cluster").as("__jump")).as("j"),
          Seq("cluster"), "left")
        .select(
          col("n.doc_id"),
          // left join: a label pointing at a node absent from this round's
          // output (impossible given self-loops, but belt-and-braces)
          // falls back to the un-jumped label
          coalesce(col("__jump"), col("cluster")).as("cluster"),
          col("n.__prev"))
        .localCheckpoint()
      val nChanged = next.filter(!(col("cluster") <=> col("__prev"))).count()
      // next is checkpointed, so the round's intermediate blocks can go
      labels.unpersist()
      // keep `next` itself (the checkpointed Dataset) as the loop variable
      // so unpersist targets the actual checkpoint blocks; __prev rides
      // along unused and is dropped in the final projection
      labels = next
      converged = nChanged == 0L
      it += 1
    }
    edges.unpersist()
    (labels.drop("__prev"), it)
  }

  /** The Jaccard>=0.5 near-dup pair list, mined once per session per data
    * directory and served from a checkpointed temp view (the same
    * mechanism that serves the cards corpus). Mining is a full
    * inverted-index shuffle (~seconds at sf0.1) while the pair list
    * itself is tiny — every consumer after the first (clustering, ad-hoc
    * joins) starts from the materialized result. [[qNgramJaccard]] stays
    * uncached: that registered entry IS the mining operator, so its bench
    * number must include the real work. */
  def cachedJaccardPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.cachedDirView(spark, "graft_jaccard_pairs", dir)(
      qNgramJaccard(spark, dir).select("doc_a", "doc_b"))

  /** Cluster assignment for the corpus: components over the exact
    * Jaccard>=0.5 pair list; singletons keep their own id. Rows-only
    * (clusters asserted against the pair list in DedupSpec). The pair
    * list comes from the session cache so this entry prices the
    * CLUSTERING, not a re-mine of pairs the session already has. */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id")
    val pairs = cachedJaccardPairs(spark, dir)
    dedupClusters(docs, pairs)
      .select(col("doc_id"), col("cluster"))
      .orderBy("doc_id")
  }

  /** The per-document KEEP/DROP decision frame — the artifact a dedup
    * pipeline actually materializes (each mining operator emits evidence;
    * something must reconcile it into one verdict per doc): exact
    * duplicates (same content hash, planted replays of every 10th doc)
    * are dropped first, then non-representatives of their near-dup
    * component, and the survivor set is exactly one doc per content
    * family. Content identity uses the engine-portable md5 id hash —
    * the scale form (grouping full text shuffles the corpus; an 8-byte
    * key doesn't), replayed with identical collisions by the oracle.
    * Exact copies join the component graph through explicit
    * (source, copy) edges — a copy is also transitively connected to
    * its source's near-dups, so one component holds the whole family.
    *
    * Scale shape: one hash groupBy for exact reps, the session-cached
    * pair mine plus trivially-derived copy edges for components
    * (the [[qDedupClusters]] budget), and two key joins to attach the
    * verdicts. Decision precedence is spec-pinned. */
  def qDedupDecision(spark: SparkSession, dir: String): DataFrame =
    decisionFrame(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      cachedJaccardPairs(spark, dir))

  /** The CURRENT decision frame served from the session cache — for
    * consumers that need the materialized artifact a dedup pipeline
    * keeps (erasure propagation's BEFORE generation), not a re-derivation
    * of it. [[qDedupDecision]] stays uncached: the registered entry IS
    * the derivation operator and must price its own work. */
  def cachedDecisionFrame(spark: SparkSession, dir: String): DataFrame =
    graft.SessionCache.cachedDirView(spark, "graft_dedup_decision", dir)(
      qDedupDecision(spark, dir))

  /** [[qDedupDecision]]'s kernel over an explicit (doc_id, text) corpus
    * and a mined near-dup pair list — factored so erasure propagation
    * ([[graft.operators.GovernanceOps.qGdprForgetKeys]]) can rebuild the
    * decision frame over the post-delete corpus. `minedPairs` must cover
    * (at least) the supplied corpus; pairs touching absent docs are
    * harmless only if the CALLER drops them — Jaccard is pairwise, so the
    * surviving corpus's pair list is exactly the full list minus edges
    * touching erased docs (no re-mine needed). */
  private[graft] def decisionFrame(base0: DataFrame, minedPairs: DataFrame): DataFrame = {
    val base = base0.select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val docs = base.unionByName(planted)
    // 63-bit keys (>> 1): DuckDB cannot cast a full UBIGINT to BIGINT,
    // so both engines drop the top bit and share identical collisions
    val hashed = docs.select(col("doc_id"),
      shiftrightunsigned(graft.functions.GraftFunctions
        .md5Hash64Array(array(col("text"))).getItem(0), 1).as("th"))
    val exactRep = hashed.groupBy("th").agg(min("doc_id").as("exact_rep"))
    val pairs = minedPairs
      .unionByName(base.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b")))
    val clusters = dedupClusters(docs.select("doc_id"), pairs)
    hashed.join(exactRep, "th")
      .join(clusters, "doc_id")
      .select(col("doc_id"), col("cluster"),
        when(col("doc_id") =!= col("exact_rep"), "exact_dup")
          .when(col("doc_id") =!= col("cluster"), "near_dup")
          .otherwise("keep").as("decision"))
      .orderBy("doc_id")
  }

  private def shingleDocs(spark: SparkSession, dir: String): DataFrame =
    // spread BEFORE the shingle build: the documents scan is few
    // partitions at bench SFs and the interpreted HOF pipeline is the
    // cost — see Tables.spread
    Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), graft.text.TextOps.wsTokens(col("text")).as("words"))
      .select(col("doc_id"), shingleHashes(col("words"), 3).as("sh"))

  /** N-gram (3-word shingle) Jaccard pairs >= 0.5 — the DEFAULT pair
    * miner, delegating to the AllPairs prefix-filtered form
    * ([[ngramJaccardPrefix]]): its candidate stream stays bounded when
    * hot boilerplate shingles appear (the measured scaling slope is the
    * suite's scale-safety argument), where the count-aggregation form's
    * co-occurrence stream grows quadratically in hot-shingle document
    * frequency. Small-corpus callers who know their shingle df
    * distribution is flat can use [[ngramJaccardCountAgg]] directly —
    * it wins below roughly a 30x sf0.1 corpus (measured crossover). */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPrefix(spark, dir)

  /** Count-aggregation form of [[qNgramJaccard]], exact same result: the
    * inverted index on shingle HASHES yields every co-occurring pair, and
    * because per-doc shingle sets are distinct, `count(*)` per pair IS the
    * intersection size — pure 8-byte keys through hash aggregation, no
    * per-pair array work. Equals brute-force O(n^2) comparison (every
    * Jaccard>0 pair shares a shingle).
    *
    * Scale caveat (why this is no longer the default): with hot shingles
    * (boilerplate) the co-occurrence stream grows quadratically in their
    * document frequency — this form is the small-corpus fast path only. */
  def ngramJaccardCountAgg(spark: SparkSession, dir: String): DataFrame = {
    val docs = shingleDocs(spark, dir)
    // set size rides along with every posting, so no separate size join.
    // explode_outer: plain explode gets an inferred size(sh)>0 filter that
    // re-evaluates the whole shingle pipeline per row; the inner join on h
    // drops the null rows an outer generate could add, so results match.
    val index = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"),
      explode_outer(col("sh")).as("h"))
    index.select(col("h"), col("doc_id").as("doc_a"), col("n").as("n_a"))
      .join(index.select(col("h"), col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter_n"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      .withColumn("union_n", col("n_a") + col("n_b") - col("inter_n"))
      .filter(col("inter_n") * 2 >= col("union_n"))
      .select("doc_a", "doc_b", "inter_n", "union_n")
      .orderBy("doc_a", "doc_b")
  }

  /** Incremental dedup — the growing-corpus ingestion gate: classify a NEW
    * batch of documents against the EXISTING corpus as exact duplicates
    * (content hash seen before) and/or near-duplicates (shingle-Jaccard
    * >= 0.5 against some base doc). The join is strictly BIPARTITE
    * (batch postings x base postings) — the base corpus is never
    * self-joined, so each arriving batch costs O(|batch| x avg-df), not a
    * re-mine of the whole corpus; at production scale the base index is a
    * maintained table and this is a probe. The batch here is the
    * deterministic doc_id % 7 == 3 slice re-keyed as arrivals. */
  /** Classification kernel for [[qDedupIncremental]]: both inputs are
    * (doc_id, text) frames; bipartite probe only. Exposed for spec-side
    * planted-data testing (the synthetic corpus has near-dups across the
    * batch split but no organic exact dups). */
  def incrementalDedup(batchDocs: DataFrame, baseDocs: DataFrame): DataFrame = {
    def prep(df: DataFrame) = df
      .select(col("doc_id"), col("text"), graft.text.TextOps.wsTokens(col("text")).as("words"))
      .select(col("doc_id"), col("text"), xxhash64(col("text")).as("th"),
        shingleHashes(col("words"), 3).as("sh"))
    val batch = prep(batchDocs)
    val base = prep(baseDocs)
    // the 8-byte hash is the SHUFFLE key; the raw text is the verifier —
    // a 64-bit collision between different texts must not flip
    // is_exact_dup (the oracle compares raw text, and exactness is cheap
    // to keep exact: the text column only rides the already-narrow
    // exact-dup branch, never the postings explode)
    val baseTexts = base.select(col("th"), col("text").as("__base_text")).distinct()
    val exactDup = batch.select(col("doc_id"), col("th"), col("text"))
      .join(baseTexts, Seq("th"), "left")
      .groupBy(col("doc_id"))
      .agg(max(when(col("text") === col("__base_text"), 1L).otherwise(0L))
        .as("is_exact_dup"))
    val bIdx = batch.select(col("doc_id"), size(col("sh")).cast("long").as("n_a"),
      explode_outer(col("sh")).as("h"))
    val sIdx = base.select(col("doc_id").as("base_id"), size(col("sh")).cast("long").as("n_b"),
      explode_outer(col("sh")).as("h"))
    val nearCounts = bIdx.join(sIdx, Seq("h"))
      .groupBy(col("doc_id"), col("base_id"))
      .agg(count(lit(1)).as("inter_n"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      .filter(col("inter_n") * 2 >= col("n_a") + col("n_b") - col("inter_n"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_near_dups"))
    exactDup.join(nearCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_exact_dup"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        (col("is_exact_dup") === 0 && coalesce(col("n_near_dups"), lit(0L)) === 0)
          .cast("long").as("is_novel"))
      .orderBy("doc_id")
  }

  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val isBatch = col("doc_id") % 7 === 3
    incrementalDedup(docs.filter(isBatch), docs.filter(!isBatch))
  }

  /** Persisted dedup-index lifecycle — the production shape of
    * [[qDedupIncremental]] (which must re-mine the base per call by
    * virtue of being a single query): build the MinHash/LSH index over
    * the base corpus and PERSIST it
    * ([[graft.sources.DedupIndexStore]]), APPEND a first ingest batch
    * under the frozen banding (class ≡ 5 mod 7 — the index grows
    * without re-mining the base), then PROBE the next batch (class ≡ 3
    * mod 7) against the stored postings + shingle sets. Emits the
    * ingest-gate frame per probe doc: near-dup count against the whole
    * grown corpus, how many of those live in the APPENDED batch
    * (non-vacuous — proving the append is actually probed), and the
    * novelty verdict. The oracle replays the decisions from scratch
    * with exact Jaccard over base ∪ appended, so the gate certifies
    * stored-index probing ≡ full recomputation; DedupIndexSpec
    * additionally pins append-built ≡ rebuild-from-scratch postings and
    * the corpus-snapshot staleness gate. */
  def qDedupIndexServe(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DedupIndexStore
    val path = graft.SessionCache.scratchPath(s"graft_dedup_idx_${graft.SessionCache.dirKey(dir)}")
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val cls = col("doc_id") % 7
    DedupIndexStore.write(spark, dir, path, docs.filter(cls =!= 3 && cls =!= 5))
    DedupIndexStore.append(spark, dir, path, docs.filter(cls === 5))
    val pairs = DedupIndexStore.probe(spark, dir, path, docs.filter(cls === 3))
    val counts = pairs.groupBy("doc_id").agg(
      count(lit(1)).as("n_near_dups"),
      sum(when(col("base_id") % 7 === 5, 1L).otherwise(0L)).as("n_from_append"))
    docs.filter(cls === 3).select("doc_id")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        coalesce(col("n_from_append"), lit(0L)).as("n_from_append"),
        (coalesce(col("n_near_dups"), lit(0L)) === 0).cast("long").as("is_novel"))
      .orderBy("doc_id")
  }

  /** Dedup-index MAINTENANCE lifecycle (VERDICT r13 ask #7 — the two
    * passes a long-lived ingest-gate index needs that
    * [[qDedupIndexServe]]'s build/append/probe does not exercise):
    * build the base index, APPEND the ≡ 5 mod 7 class (fragmenting the
    * postings table, one parquet fragment per batch), COMPACT the
    * store (the entry REQUIRES the fragment count actually
    * shrank), then RETRACT the odd half of the appended class
    * (doc_id ≡ 5 mod 14) — the GDPR path: a filtered O(index) rewrite
    * under the frozen banding, not the O(corpus) re-mine a
    * staleness-forced rebuild pays. The probe of the ≡ 3 mod 7 class
    * then runs against the maintained store, and the oracle replays the
    * decisions from scratch over the SURVIVOR set — a retraction that
    * leaks a dropped doc's postings (phantom candidate) or drops a
    * survivor's (lost near-dup) shifts a count and breaks the hash;
    * compaction must be row-invisible for the same reason.
    * DedupIndexSpec pins retract ≡ rebuild-over-survivors row identity
    * and that maintenance leaves only live files on disk. */
  def qDedupIndexMaintain(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.DedupIndexStore
    val path = graft.SessionCache.scratchPath(s"graft_dedup_idxm_${graft.SessionCache.dirKey(dir)}")
    val docs = Tables.spread(spark, Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"))
    val cls = col("doc_id") % 7
    DedupIndexStore.write(spark, dir, path, docs.filter(cls =!= 3 && cls =!= 5))
    // two ingest batches (the even and odd halves of the ≡ 5 mod 7
    // class) so the fragment accumulation is real at every test SF
    DedupIndexStore.append(spark, dir, path, docs.filter(col("doc_id") % 14 === 12))
    DedupIndexStore.append(spark, dir, path, docs.filter(col("doc_id") % 14 === 5))
    val fragsBefore = DedupIndexStore.postingsFragments(path)
    DedupIndexStore.compactIndex(spark, dir, path, targetFiles = 2)
    val fragsAfter = DedupIndexStore.postingsFragments(path)
    require(fragsAfter <= 2 && fragsAfter < fragsBefore,
      s"dedup_index_maintain: compaction had no effect ($fragsBefore -> $fragsAfter fragments)")
    DedupIndexStore.retract(spark, dir, path,
      docs.filter(col("doc_id") % 14 === 5).select("doc_id"))
    val pairs = DedupIndexStore.probe(spark, dir, path, docs.filter(cls === 3))
    val counts = pairs.groupBy("doc_id").agg(
      count(lit(1)).as("n_near_dups"),
      sum(when(col("base_id") % 7 === 5, 1L).otherwise(0L)).as("n_from_append"))
    docs.filter(cls === 3).select("doc_id")
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_near_dups"), lit(0L)).as("n_near_dups"),
        coalesce(col("n_from_append"), lit(0L)).as("n_from_append"),
        (coalesce(col("n_near_dups"), lit(0L)) === 0).cast("long").as("is_novel"))
      .orderBy("doc_id")
  }

  /** Containment dedup — the asymmetric near-dup cut symmetric Jaccard
    * misses: a short doc embedded in a longer one (truncated re-crawl,
    * quote expansion) has containment |A∩B| / min(|A|,|B|) ≈ 1 while its
    * Jaccard |A∩B| / |A∪B| can sit far below any symmetric threshold.
    * Same inverted-index shape as [[qNgramJaccard]] (linear in corpus
    * size), gated at inter·5 ≥ 4·min (0.8) in pure integer arithmetic so
    * the cross-engine gate is exact.
    *
    * The synthetic corpus's planted dups are same-length edits (its
    * containment-only set is organically EMPTY — verified), so every
    * 50th doc is re-keyed truncated to its first 40% of words in-plan
    * (the SimilarityOps.withPlanted convention): a prefix's shingles are
    * a subset of the original's, giving containment exactly 1 at Jaccard
    * ≈ 0.4 — below the symmetric gate. Non-vacuity of the
    * containment-only set is spec-asserted. */
  /** The containment corpus (docs + planted truncated re-crawls) as
    * (doc_id, sh) shingle-hash sets — shared by the count-aggregation and
    * prefix-filtered containment variants so their equality contract is
    * over literally the same input. */
  private def containmentShingleDocs(spark: SparkSession, dir: String): DataFrame = {
    val raw = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.text.TextOps.wsTokens(col("text")).as("words"))
    val planted = raw.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        slice(col("words"), lit(1),
          greatest(expr("size(words) * 2 div 5"), lit(3))).as("words"))
    Tables.spread(spark, raw.unionByName(planted))
      .select(col("doc_id"), shingleHashes(col("words"), 3).as("sh"))
  }

  /** Containment pairs — the DEFAULT miner delegates to the prefix-
    * filtered form ([[dedupContainmentPrefix]]) for the same reason as
    * [[qNgramJaccard]]: its short-side-prefix candidate stream stays
    * bounded under hot boilerplate shingles, where the count-aggregation
    * form's co-occurrence stream is quadratic in hot-shingle df. */
  def qDedupContainment(spark: SparkSession, dir: String): DataFrame =
    dedupContainmentPrefix(spark, dir)

  /** Count-aggregation form of [[qDedupContainment]], exact same result —
    * the small-corpus fast path (see [[ngramJaccardCountAgg]] for the
    * scale caveat that keeps it off the default slot). */
  def dedupContainmentCountAgg(spark: SparkSession, dir: String): DataFrame = {
    val index = containmentShingleDocs(spark, dir)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode_outer(col("sh")).as("h"))
    index.select(col("h"), col("doc_id").as("doc_a"), col("n").as("n_a"))
      .join(index.select(col("h"), col("doc_id").as("doc_b"), col("n").as("n_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter_n"), first("n_a").as("n_a"), first("n_b").as("n_b"))
      .filter(col("inter_n") * 5 >= least(col("n_a"), col("n_b")) * 4)
      .select("doc_a", "doc_b", "inter_n", "n_a", "n_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Prefix-filtered containment variant — the hot-shingle escape hatch for
    * [[qDedupContainment]], same exact result. The symmetric AllPairs bound
    * does not transfer to an asymmetric threshold, so the containment form
    * is: for C(a,b) = |A∩B| / min(|A|,|B|) >= t, look at the SHORTER doc S
    * (|S| = m) — the intersection has >= ceil(t*m) elements, so at least
    * one of them sits within S's first m - ceil(t*m) + 1 shingles in
    * canonical (ascending document frequency, then hash) order; were they
    * all in the remaining ceil(t*m) - 1 positions the intersection would be
    * too small. The longer doc admits no such bound (its size does not
    * constrain t·min), so candidates come from SHORT-side prefix postings
    * joined against FULL postings — hot boilerplate shingles still fall out
    * of every prefix, which is what caps the candidate stream when their
    * document frequency explodes. Ties in size keep only the lower-id doc
    * as the "short" side (either qualifies as min; one suffices for
    * coverage and halves duplicate candidates). */
  def dedupContainmentPrefix(spark: SparkSession, dir: String): DataFrame = {
    val st = containmentStages(spark, dir)
    // exact verification over the full shingle sets, candidates broadcast
    // (same rationale and graceful-degradation story as
    // [[ngramJaccardPrefix]]'s verify)
    val a = st.docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = st.docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(candsHinted(spark, st.cands), Seq("doc_a"))
      .join(b, Seq("doc_b"))
      .withColumn("inter_n",
        graft.functions.GraftFunctions.sortedIntersectCount(
          col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .filter(col("inter_n") * 5 >= least(col("n_a"), col("n_b")) * 4)
      .select("doc_a", "doc_b", "inter_n", "n_a", "n_b")
      .orderBy("doc_a", "doc_b")
  }

  /** The containment miner's mining stages: the materialized shingle
    * sets and the distinct candidate pairs the verify joins read.
    *
    * Prefix length for t=0.8 on the candidate-shorter doc:
    * n − ceil(0.8n) + 1. NO positional (PPJoin) filter on this
    * asymmetric miner — measured r9: ranking the LONG side costs a
    * second full-postings window sort (+0.7 s isolated at sf0.1) and
    * prunes ~3%, because df is GLOBAL: a shingle rare enough to sit in
    * the short doc's prefix ranks early in the long doc's canonical
    * order too, so the positional bound 1 + min(n_s−p_s, n_l−p_l)
    * almost never bites. The symmetric jaccard miner keeps the filter
    * (both sides already ranked — free). */
  private case class ContainmentStages(docs: DataFrame, cands: DataFrame)

  private def containmentStages(spark: SparkSession, dir: String): ContainmentStages = {
    // shingle once — same materialization rationale as
    // [[ngramJaccardPrefix]] (postings + both verify sides re-shingled
    // the corpus per reference)
    val docs = containmentShingleDocs(spark, dir).localCheckpoint()
    val postings = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"),
      explode_outer(col("sh")).as("h"))
    val dfreq = postings.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefix = postings.join(dfreq, "h")
      .withColumn("__rk", row_number().over(byRarity))
      .filter(col("__rk") <= col("n") - ceil(col("n") * 0.8) + 1)
      .select(col("h"), col("doc_id").as("doc_s"), col("n").as("n_s"))
    val cands = prefix
      .join(postings.select(col("h"), col("doc_id").as("doc_l"), col("n").as("n_l")), Seq("h"))
      .filter(col("n_s") < col("n_l") ||
        (col("n_s") === col("n_l") && col("doc_s") < col("doc_l")))
      .select(least(col("doc_s"), col("doc_l")).as("doc_a"),
        greatest(col("doc_s"), col("doc_l")).as("doc_b"))
      .distinct()
    ContainmentStages(docs, cands)
  }

  /** Prefix-filtered variant (AllPairs/PPJoin lineage), same exact result.
    *
    * Canonical order = ascending document frequency, then hash. For
    * J(a,b) >= t, a and b must share an element within their first
    * |s| - ceil(t*|s|) + 1 canonically-ordered shingles, so candidates come
    * from a self-join of PREFIX postings only; hot (high-df) shingles land
    * at the back of every prefix and stop generating pairs. The candidate
    * join also applies the PPJoin LENGTH filter — J >= 0.5 forces
    * |A| and |B| within 2x of each other — before the distinct.
    *
    * Verification joins the (output-scale) candidate list back to the full
    * shingle sets with the candidates BROADCAST by default: neither docs
    * scan is exchanged or sorted, which measured 1.8x faster end-to-end
    * than the shuffle-join verify at sf0.1 (the pair list is o(corpus)
    * by construction — near-dup mining whose output approaches its
    * input is already a corpus-quality incident; for a corpus whose dup
    * density makes the pair list driver-hostile anyway, set
    * `graft.dedup.broadcastCands=false` and the verify degrades
    * gracefully to a shuffle join, exact result unchanged — see
    * [[candsHinted]]). On small flat-df corpora [[ngramJaccardCountAgg]] is
    * faster (both measured — see DedupSpec for the equality contract). */
  def ngramJaccardPrefix(spark: SparkSession, dir: String): DataFrame = {
    // the shingle build (tokenize + hash, the interpreted-HOF hot path)
    // feeds the postings explode AND both verify sides — materialize it
    // once instead of re-shingling the corpus per reference (measured
    // r18: the mine's dominant term; at scale this is the difference
    // between one and three corpus-wide tokenize passes)
    val docs = shingleDocs(spark, dir).localCheckpoint()
    val postings = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n"),
      explode_outer(col("sh")).as("h"))
    val dfreq = postings.groupBy("h").agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    // prefix length for t=0.5: n - ceil(n/2) + 1 = floor(n/2) + 1.
    // The df join is declared, not hand-scheduled: at bench SFs Catalyst
    // broadcasts the dfreq side (verified in the plan — no sort-merge
    // anywhere); at cluster scale its stats push it to a shuffle join.
    val prefix = postings.join(dfreq, "h")
      .withColumn("__rk", row_number().over(byRarity))
      .filter(col("__rk") <= col("n") - ceil(col("n") * 0.5) + 1)
      .select(col("h"), col("doc_id"), col("n"), col("__rk"))
    // PPJoin positional filter (r9, see dedupContainmentPrefix for the
    // first-common-shingle validity argument): J >= 0.5 forces
    // 3·inter >= n_a + n_b, and a match at ranks (p_a, p_b) bounds
    // inter by 1 + min(n_a−p_a, n_b−p_b)
    val cands = prefix.select(col("h"), col("doc_id").as("doc_a"), col("n").as("n_a"),
        col("__rk").as("p_a"))
      .join(prefix.select(col("h"), col("doc_id").as("doc_b"), col("n").as("n_b"),
        col("__rk").as("p_b")), Seq("h"))
      .filter(col("doc_a") < col("doc_b") &&
        col("n_a") <= col("n_b") * 2 && col("n_b") <= col("n_a") * 2)
      .filter((lit(1) + least(col("n_a") - col("p_a"), col("n_b") - col("p_b"))) * 3
        >= col("n_a") + col("n_b"))
      .select("doc_a", "doc_b").distinct()
    // exact verification over the full shingle sets, candidates broadcast
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val (inter, union) = jaccardCounts(col("sh_a"), col("sh_b"))
    // threshold phrased as 3*inter >= |A|+|B| (== 2*inter >= union): the
    // filter lands in the verify join's condition — right place, runs
    // per candidate — and this form carries ONE merge-kernel occurrence
    // instead of two; the (inter, union) projection only prices survivors
    a.join(candsHinted(spark, cands), Seq("doc_a"))
      .join(b, Seq("doc_b"))
      .filter(inter * 3 >= size(col("sh_a")) + size(col("sh_b")))
      .withColumn("inter_n", inter.cast("long"))
      .withColumn("union_n", union.cast("long"))
      .select("doc_a", "doc_b", "inter_n", "union_n")
      .orderBy("doc_a", "doc_b")
  }

  /** Bloom-filter incremental-dedup probe — the sketch pattern for
    * "is this batch row already in a base corpus too big to join"
    * (the 100 TB shape of [[incrementalDedup]]'s exact branch: at that
    * scale the base side cannot be shuffled per batch; a bloom built
    * once costs one linear scan with map-side partial OR-merges and the
    * probe is a broadcast-sized constant per batch row — exactly how
    * Spark's own AQE runtime filters ship build-side key sets to the
    * probe scan).
    *
    * Everything stays in ONE plan: `bloom_filter_agg` (Spark's
    * catalyst BloomFilterAggregate surfaced as SQL by
    * [[graft.GraftExtensions]]) builds the filter
    * inside a scalar subquery — no driver-side sketch collect — and the
    * codegen'd `bloom_might_contain` probes it per batch row. Keys are
    * `xxhash64(text)`: the bloom ingests 8-byte longs, never the text.
    *
    * Gate shape (the CMS / ANN-recall precedent — the sketch itself is
    * not oracle-reproducible, its CONTRACT is): alongside the exact
    * truth (a semi-join computable at test scale), the output carries
    *  - `no_false_negative`: bloom_hit OR NOT exact-dup — a bloom NEVER
    *    misses a present key, so this must be literal TRUE on every row;
    *  - `fp_ok`: false-positive count <= 5% of clean rows + 1 (corpus
    *    -wide, broadcast-scalar join) — generous vs the 1% design fpp.
    * The DuckDB oracle recomputes the exact flags and asserts both
    * booleans literally TRUE, so a silently-broken filter (wrong bits,
    * wrong sizing, a probe that stops hitting) fails the hash gate.
    *
    * Batch = every 7th doc (fresh crawl) plus re-ingested replays of
    * every 11th base doc under new ids — the planted guaranteed-dup
    * traffic for the no-false-negative leg at every SF. */
  def qDedupBloomProbe(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("__bloom_docs")
    // sized for a 200k-item base at 1% fpp (the production knob; the
    // test corpora sit far under it, driving realized fpp toward zero —
    // the fp_ok bound stays a real, non-vacuous contract)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(200000L, 0.01)
    spark.sql(
      s"""WITH base AS (
         |  SELECT text FROM __bloom_docs WHERE doc_id % 7 <> 0),
         |batch AS (
         |  SELECT doc_id, text FROM __bloom_docs WHERE doc_id % 7 = 0
         |  UNION ALL
         |  SELECT doc_id + 10000000 AS doc_id, text FROM __bloom_docs
         |  WHERE doc_id % 7 <> 0 AND doc_id % 11 = 0),
         |probe AS (
         |  SELECT b.doc_id,
         |    (s.text IS NOT NULL) AS exact_dup,
         |    bloom_might_contain(
         |      (SELECT bloom_filter_agg(xxhash64(text), CAST(200000 AS BIGINT),
         |                               CAST($numBits AS BIGINT)) FROM base),
         |      xxhash64(b.text)) AS bloom_hit
         |  FROM batch b
         |  LEFT JOIN (SELECT DISTINCT text FROM base) s ON b.text = s.text),
         |tot AS (
         |  SELECT sum(CASE WHEN bloom_hit AND NOT exact_dup THEN 1 ELSE 0 END) AS fp_n,
         |         sum(CASE WHEN NOT exact_dup THEN 1 ELSE 0 END) AS clean_n
         |  FROM probe)
         |SELECT p.doc_id,
         |  CAST(p.exact_dup AS BIGINT) AS is_dup,
         |  (p.bloom_hit OR NOT p.exact_dup) AS no_false_negative,
         |  (t.fp_n * 20 <= t.clean_n + 20) AS fp_ok
         |FROM probe p CROSS JOIN tot t
         |ORDER BY p.doc_id""".stripMargin)
  }
}
