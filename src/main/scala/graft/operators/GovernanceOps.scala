package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-governance lifecycle operators — the pieces a production lake
  * needs around the analytics themselves. First resident:
  * right-to-be-forgotten delete propagation (the reference's DELETE
  * story is Postgres-native row deletes behind the UNIQUE(id) key,
  * import_cards.py's replace-on-conflict path; a lakehouse pipeline
  * must instead propagate the erasure through every DERIVED table,
  * because derived rows are functions of the deleted rows, not copies
  * of them).
  */
object GovernanceOps {

  /** The deterministic forget set for the GATED instance: every doc whose
    * id ≡ 13 (mod 97) — pure id arithmetic so the DuckDB oracle reproduces
    * it exactly (the planted-twin convention). The kernel itself is keyed:
    * `forgetAudit` takes an erasure-request TABLE (the production shape —
    * many requests amortize ONE rebuild); this modulus set only derives
    * that table for the hash gate. */
  private val ForgetMod = 97L
  private val ForgetRem = 13L

  /** Production erasure kernel: given a corpus, its mined pair evidence,
    * and a keyed erasure-request table (one `doc_id` per requested key),
    * return (survivors, surviving pair evidence). The request table is
    * erasure-request-sized — small against any corpus — so membership is
    * a broadcast anti-join, never a collect or a corpus shuffle; Jaccard
    * is pairwise, so survivor-survivor similarity is unaffected by
    * deletes and the survivors' pair list is exactly the cached full
    * list minus edges touching a requested key (edge filter, no corpus
    * re-shingle). Batching is associative by construction: applying
    * R1 ∪ R2 at once ≡ applying R1 then R2 (spec-pinned), so a
    * compliance queue drains N requests with one derived-frame rebuild. */
  private[graft] def applyErasure(corpus: DataFrame, pairs: DataFrame,
      requests: DataFrame): (DataFrame, DataFrame) =
    applyErasureKeyed(corpus, pairs, requestKeys(requests))

  /** The normalized broadcast key frame (one `__req_id` per requested
    * key) — built in exactly ONE place so the anti-join side and the
    * residual-audit side can never drift apart. */
  private def requestKeys(requests: DataFrame): DataFrame =
    broadcast(requests.select(col("doc_id").as("__req_id")).distinct())

  private def applyErasureKeyed(corpus: DataFrame, pairs: DataFrame,
      reqKeys: DataFrame): (DataFrame, DataFrame) = {
    val survivors = corpus.join(reqKeys, col("doc_id") === col("__req_id"), "left_anti")
    val survivingPairs = pairs
      .join(reqKeys, col("doc_a") === col("__req_id"), "left_anti")
      .join(reqKeys, col("doc_b") === col("__req_id"), "left_anti")
    (survivors, survivingPairs)
  }

  /** GDPR / right-to-be-forgotten delete propagation across the fact
    * table and its derived frames, with a per-frame audit row — one
    * entry proving the key is GONE everywhere and pricing what that
    * costs. The registered instance feeds the deterministic modulus
    * request table into the keyed kernel; a real deployment feeds its
    * erasure-request queue and everything downstream is unchanged. */
  def qGdprForgetKeys(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val requests = docs
      .filter(pmod(col("doc_id"), lit(ForgetMod)) === ForgetRem)
      .select(col("doc_id"))
    forgetAudit(spark, dir, requests)
  }

  /** The keyed erasure-propagation audit:
    *
    *   - `documents` (base): broadcast anti-join on the request keys.
    *   - `dedup_decision`: decisions are NOT row-local — erasing a doc
    *     erases its planted exact copy, can re-elect a cluster
    *     representative, and can split a component the erased doc
    *     bridged — so the frame is REBUILT over the surviving corpus.
    *     The expensive pair mine is NOT re-run (see `applyErasure`).
    *   - `pack_sequences`: token starts are a global prefix sum, so
    *     every survivor after the first erased doc moves — re-packed
    *     over the surviving corpus via the distributed prefix-sum
    *     kernel.
    *
    * Audit columns per frame: rows_before / rows_after (both from real
    * frame computations), purged (their difference), residual_refs
    * (post-erasure rows still referencing a requested key — the
    * compliance boolean, must be 0; planted copies map back through the
    * +1e6 id band), and n_changed (SURVIVING rows whose derived values
    * changed — the propagation cost a naive row-delete would silently
    * skip). Everything is integer-exact; the oracle replays both frame
    * generations in SQL. Scale shape: the base scans, one decision
    * rebuild, and one re-pack — all the linear pipelines this suite
    * already prices — plus metadata-sized audit aggregates; every
    * request-key test is a broadcast (anti-)join against the
    * request-sized key set. */
  def forgetAudit(spark: SparkSession, dir: String,
      requests: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val reqKeys = requestKeys(requests)
    val pairsAll = graft.dedup.DedupOps.cachedJaccardPairs(spark, dir)
    val (erased, pairsErased) = applyErasureKeyed(docs, pairsAll, reqKeys)

    // base-table audit: rows_after and residual_refs are aggregated from
    // the ACTUAL erased frame, exactly as frameAudit does for the derived
    // frames — deriving rows_after as before−purged from the PRE-erasure
    // scan (the r11 form) could never witness a bug in the erased filter
    // itself, the thing this row's audit exists to check (ADVICE r11)
    val baseAudit = docs.agg(count(lit(1)).as("rows_before"))
      .crossJoin(broadcast(residualAgg(erased, col("doc_id"), reqKeys)))
      .select(lit("documents").as("frame"),
        col("rows_before"),
        col("rows_after"),
        (col("rows_before") - col("rows_after")).as("purged"),
        col("residual_refs"),
        lit(0L).as("n_changed"))

    // BEFORE = the session-cached materialized artifact (a pipeline holds
    // its decision table; erasure does not re-derive it) — only the AFTER
    // rebuild is this entry's own priced propagation work
    val decBefore = graft.dedup.DedupOps.cachedDecisionFrame(spark, dir)
    val decAfter = graft.dedup.DedupOps.decisionFrame(erased, pairsErased)
    // planted copies live at doc_id + 1e6; map back before the key test
    def srcId(id: Column) =
      when(id >= 1000000L, id - 1000000L).otherwise(id)
    val decAudit = frameAudit("dedup_decision", decBefore, decAfter,
      residualKey = srcId(col("doc_id")), reqKeys = reqKeys,
      changed = (b, a) =>
        b("decision") =!= a("decision") || b("cluster") =!= a("cluster"))

    // pack-sequences audit: re-pack the survivors (global prefix sum).
    // BEFORE = the session-cached materialized manifest (the decBefore
    // convention above: a pipeline holds its packed manifest; erasure
    // does not re-derive it) — only the AFTER re-pack is this entry's
    // own priced propagation work
    val packBefore = graft.text.TextOps.cachedPackedManifest(spark, dir)
    // The AFTER pack materializes once: its prefix-sum WINDOW pass
    // otherwise executes per consumer (the residual aggregate and the
    // change-join side share the window's input exchange via
    // ReusedExchange, but the window computation itself runs in each
    // consumer's stage). A/B at sf0.1 (min-of-6): keys 4.86 -> 4.29,
    // batch 5.14 -> 4.47. The SAME barrier on decAfter measured ~1.6 s
    // SLOWER per entry (its expensive ancestors — CC labels, the cached
    // pair list — are already materialized, the frameAudit r18 note), so
    // only the pack side pins.
    val packAfter = graft.text.TextOps.packSequences(
      spark, Tables.spread(spark, erased)).localCheckpoint()
    val packAudit = frameAudit("pack_sequences", packBefore, packAfter,
      residualKey = col("doc_id"), reqKeys = reqKeys,
      changed = (b, a) =>
        b("token_start") =!= a("token_start") || b("seq_first") =!= a("seq_first"))

    baseAudit.unionByName(decAudit).unionByName(packAudit).orderBy("frame")
  }

  /** The BATCHED erasure-queue instance (VERDICT r11 ask #6 made gated):
    * two independent request sets — id ≡ 13 (mod 97) and id ≡ 7
    * (mod 101), the shape of a compliance queue drained periodically —
    * feed ONE `forgetAudit` call, so both amortize a single
    * derived-frame rebuild. The spec pins batch ≡ sequential; this entry
    * hash-gates the batched path end to end. */
  def qGdprForgetBatch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val requests = docs
      .filter(pmod(col("doc_id"), lit(ForgetMod)) === ForgetRem ||
        pmod(col("doc_id"), lit(101L)) === 7L)
    forgetAudit(spark, dir, requests)
  }

  /** Subject-access report — the READ twin of the forget kernel (GDPR
    * Article 15: "everything we hold derived from your data"): for each
    * requested key, one row inventorying the subject's footprint across
    * the base corpus and its derived artifacts —
    *
    *   - `held`: whether the corpus holds the doc at all (the request
    *     table deliberately includes keys the lake has never seen — a
    *     DSAR queue is full of them — and the report must answer those
    *     with an explicit not-held row, not silence),
    *   - `n_chunks`: how many chunker windows the doc contributes,
    *   - `quality_label`: the classifier's release verdict
    *     ([[graft.text.TextOps.qualityLogits]]),
    *   - `dedup_status`: whether the doc is the canonical copy (`rep`)
    *     or held as an exact duplicate of another record (`exact_dup` —
    *     min-doc_id rep election over the full-text hash, the
    *     dedup_exact rule),
    *   - `token_start`: the doc's position in the packed training
    *     manifest (the prefix sum needs the FULL corpus — a subject's
    *     position depends on every predecessor — so this column reads
    *     the pipeline-held packed manifest; the rest compute on the
    *     request-sized slice).
    *
    * Scale shape: requests broadcast; the chunker and classifier run on
    * the SEMI-JOINED (request-sized) slice only; the dedup election is
    * one linear corpus pass; the final assembly is request-sized left
    * joins. The pack is NOT a per-call corpus pass: it rides the
    * session-cached packed manifest
    * ([[graft.text.TextOps.cachedPackedManifest]]) that the forget
    * audits share, built once per session and data dir. The tradeoff is
    * the one [[graft.SessionCache]] flags for large intermediates: the
    * manifest's corpus-row-sized localCheckpoint blocks stay pinned for
    * the session's lifetime. */
  def qGdprAccessReport(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val ids = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(ForgetMod)) === 29L)
      .select(col("doc_id"))
    // keys the lake holds nothing for — the report must say so
    val requests = ids.unionByName(
      Seq(9999991L, 9999997L).toDF("doc_id"))
    accessReport(spark, dir, requests)
  }

  /** [[qGdprAccessReport]]'s kernel over an explicit request table. */
  private[graft] def accessReport(spark: SparkSession, dir: String,
      requests: DataFrame): DataFrame = {
    val docs = Tables.spread(spark,
      Tables.documents(spark, dir)).select(col("doc_id"), col("text"))
    val reqKeys = requestKeys(requests)
    val held = docs.join(reqKeys, col("doc_id") === col("__req_id"), "left_semi")
    val chunks = graft.text.TextOps.chunkKeys(held)
      .groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
    val quality = graft.text.TextOps.qualityLogits(spark, held)
      .select(col("doc_id"),
        when(col("logit_sum") > 0, "keep").otherwise("drop").as("quality_label"))
    val hashed = docs.select(col("doc_id"),
      shiftrightunsigned(graft.dedup.DedupOps.md5Hash64(col("text")), 1).as("th"))
    val status = hashed
      .withColumn("rep", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy("th")))
      .join(reqKeys, col("doc_id") === col("__req_id"), "left_semi")
      .select(col("doc_id"),
        when(col("doc_id") === col("rep"), "rep")
          .otherwise("exact_dup").as("dedup_status"))
    // the one corpus-priced column rides the session-cached manifest
    // (the packBefore convention in forgetAudit — same artifact)
    val pack = graft.text.TextOps.cachedPackedManifest(spark, dir)
      .join(reqKeys, col("doc_id") === col("__req_id"), "left_semi")
      .select(col("doc_id"), col("token_start"))
    requests.select(col("doc_id")).distinct()
      .join(held.select(col("doc_id"), lit(1L).as("held")), Seq("doc_id"), "left")
      .join(chunks, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"), "left")
      .join(status, Seq("doc_id"), "left")
      .join(pack, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("held"), lit(0L)).as("held"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("quality_label"), lit("not_held")).as("quality_label"),
        coalesce(col("dedup_status"), lit("not_held")).as("dedup_status"),
        coalesce(col("token_start"), lit(-1L)).as("token_start"))
      .orderBy("doc_id")
  }

  /** k-anonymity audit over a quasi-identifier set — the re-identification
    * check a training-data governance pass runs before release (PII
    * scrubbing removes DIRECT identifiers, `text_pii_scrub`; this guards
    * the INDIRECT ones): group the population by the quasi-identifiers
    * (nation, market segment, account-balance band) and flag every group
    * smaller than k=5 — each of its members is re-identifiable to within
    * fewer than k candidates, so the release action is `suppress` (the
    * standard remedy; generalizing the band is the other).
    *
    * The balance band is floor(acctbal/2000) — one IEEE divide + floor on
    * identical doubles in both engines, the established exact-replay
    * convention. One map-side-combined groupBy, QI-cardinality output:
    * scan-bound at any population size. */
  def qKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val k = 5L
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / 2000.0).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("group_n"))
      .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
        col("group_n"),
        (col("group_n") < k).as("violates_k"),
        when(col("group_n") < k, "suppress").otherwise("release").as("action"))
      .orderBy("c_nationkey", "c_mktsegment", "bal_band")
  }

  /** rows_after + residual_refs for a post-erasure frame: one aggregate
    * over the frame with request membership resolved by a broadcast left
    * join on `key` (request-sized build side, never a collect). */
  private def residualAgg(after: DataFrame, key: Column,
      reqKeys: DataFrame): DataFrame =
    after.join(reqKeys, key === col("__req_id"), "left")
      .agg(count(lit(1)).as("rows_after"),
        coalesce(sum(when(col("__req_id").isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("residual_refs"))

  /** One audit row for a derived frame generation pair: counts both
    * generations, counts post-erasure residual key references (request
    * membership of `residualKey` via broadcast join), and counts
    * surviving rows whose derived columns changed. Each input is
    * aggregated once; the change count is one doc_id-keyed join. */
  private def frameAudit(name: String, before: DataFrame, after: DataFrame,
      residualKey: Column, reqKeys: DataFrame,
      changed: (String => Column, String => Column) => Column): DataFrame = {
    // Deliberately NOT checkpointed (measured, r18 optimization round):
    // each generation is consumed three times below, but the expensive
    // ancestors (CC labels, pack units) are already materialized by their
    // kernels — an A/B at sf0.1 measured eager checkpoints here COSTING
    // ~1.5 s/entry (four extra materialization barriers) against cheap
    // re-joins that whole-stage-codegen together inside the final plan.
    val nBefore = before.agg(count(lit(1)).as("rows_before"))
    val nAfter = residualAgg(after, residualKey, reqKeys)
    val b = before.select(before.columns.map(c => col(c).as(s"__b_$c")): _*)
    val a = after.select(after.columns.map(c => col(c).as(s"__a_$c")): _*)
    val nChanged = b
      .join(a, col("__b_doc_id") === col("__a_doc_id"))
      .agg(sum(when(changed(c => col(s"__b_$c"), c => col(s"__a_$c")), 1L)
        .otherwise(0L)).as("n_changed"))
    nBefore.crossJoin(nAfter).crossJoin(nChanged)
      .select(lit(name).as("frame"),
        col("rows_before"), col("rows_after"),
        (col("rows_before") - col("rows_after")).as("purged"),
        coalesce(col("residual_refs"), lit(0L)).as("residual_refs"),
        coalesce(col("n_changed"), lit(0L)).as("n_changed"))
  }
}
