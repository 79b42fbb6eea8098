package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scaling check for the dedup/similarity/text family
  * (BASELINE.md "Scaling check" section; VERDICT r3 ask #8).
  *
  * There is no driver-generated sf1, so this amplifies sf0.1's
  * `documents` / `embeddings` tables k-fold into scratch dirs with
  * per-replica transformations chosen so the *within-replica* duplicate
  * and similarity structure is preserved EXACTLY while *cross-replica*
  * similarity is destroyed — i.e. near-dup density per row stays
  * constant as the corpus grows, which is the honest setting for
  * measuring whether a pipeline is linear in corpus size:
  *
  *  - text: a per-replica Caesar rotation via `translate`. A bijection
  *    on characters maps each replica's word-shingle universe to a
  *    disjoint one (any shingle containing a letter differs), while
  *    within a replica every pairwise Jaccard / simhash / fingerprint
  *    relation is isomorphic to the original. `n_chars` is preserved.
  *  - embeddings: a per-replica deterministic sign-flip pattern per
  *    dimension. For u,v in the same replica cos(u',v') == cos(u,v)
  *    exactly (s_d^2 = 1); across replicas the sign patterns are
  *    uncorrelated so expected cosine ~ 0 — no spurious near-dups.
  *
  * Usage: SPARK_GRAFT_SCALES=1,3,10 sbt "runMain graft.ScalingBench"
  * Prints one JSON line per scale plus a per-query log-log slope table
  * (slope ~1 = linear in corpus size; brute-force ANN is expected ~2,
  * it is the documented quadratic baseline the LSH/IVF paths replace).
  */
object ScalingBench {

  private val docFamily = Seq(
    "dedup_exact", "dedup_normalized", "dedup_minhash_lsh", "dedup_simhash",
    "ngram_jaccard", "ngram_jaccard_countagg", "dedup_clusters",
    "dedup_incremental", "doc_fingerprint",
    "text_token_count", "text_lang_id", "text_quality_score",
    "text_boilerplate_spans", "text_contamination", "text_rare_word_ratio",
    "embed_label_centroids", "embed_neardup_cosine", "embed_project_rand",
    "ann_topk_brute",
    // the registered ann entries gate recall on a bounded <= 64-query
    // sample (linear by construction); the *_full rows measure the
    // ranked searches over the FULL planted query set — the serving
    // shape whose slope the index capacities exist to keep flat
    "ann_topk_lsh", "ann_topk_ivf", "ann_topk_ivfpq",
    "ann_topk_lsh_full", "ann_topk_ivf_full", "ann_topk_ivfpq_full",
    // round-10: the corpus-scale kNN-graph join — the registered entry
    // already computes EVERY graph vector's neighbors (only the gate is
    // sampled), so it needs no *_full twin; expected ~n^1.5 candidate
    // stream at K~sqrt(n) cells, parallelism should keep the wall slope
    // under the VERDICT ask of 0.7
    "ann_knn_join",
    // round-6 additions (VERDICT r5 ask #4): the asymmetric-containment
    // inverted index (hot-shingle risk) and the budget-constrained
    // selection's driver-histogram boundary
    "dedup_containment", "text_budget_select",
    // round-6 new operators: component propagation over the near-dup
    // graph, the distributed prefix sum, and the bigram inverted index
    "embed_cluster_dedup", "text_pack_sequences", "text_bigram_novelty",
    "text_fulltext_search", "text_heavy_hitters",
    // round-7: mixture reweighting (one partial-agg groupBy + broadcast
    // scalar — should be flat-to-linear)
    "text_domain_mix",
    // round-8: the in-plan bloom build (one linear base scan into an
    // OR-merged sketch) + per-batch-row probe — the slope should track
    // the two scans; and the A-ES weighted sample, whose TakeOrdered
    // heap must keep it scan-bound
    "dedup_bloom_probe", "text_weighted_sample",
    // JPEG entropy decode is per-row compute (encode+decode per doc, no
    // joins) — its slope row documents that the mapPartitions seam stays
    // linear. mm_phash_neardup is deliberately NOT here: replica doc_id
    // offsets are ≡ 0 mod 256, so the id-arithmetic rasters make every
    // replica pixel-identical to the base — duplicate density would grow
    // with k, an artifact of the amplifier, not the operator (its banded
    // join is the same shape as dedup_simhash, which IS measured).
    "mm_jpeg_decode", "text_vocab_encode",
    // round-9 additions: Lloyd k-means (rounds × one broadcast-join
    // assignment pass — must stay linear in n at fixed k), the tf-idf
    // top-terms extractor (vocab-sized idf join + bounded-heap top-k),
    // and the unigram-entropy cut (one (doc,word) groupBy + doc-bounded
    // window)
    "embed_kmeans", "text_tfidf_topterms", "text_unigram_entropy",
    // round-9 late additions: DSIR scoring (vocab tables GROW ~k-fold
    // under the disjoint-rotation amplifier — the slope prices that),
    // CCNet bucketing (its sample cap shrinks as n grows, so cutoff
    // work stays bounded), substring-run mining (within-replica runs
    // preserved by the rotation bijection, cross-replica destroyed —
    // same honesty argument as ngram_jaccard), and power-iteration PCA
    // (rounds x one linear pass at fixed d)
    "text_dsir_weights", "text_ccnet_bucket", "text_substring_dedup",
    "embed_pca_power",
    // VAD = one decode pass + channel-key agg + per-channel run windows;
    // split check = label map + tiny-pair joins (first rep pays the
    // session pair-mine build; min-of-reps measures the served check);
    // MI audit = one map-side groupBy + metadata-sized re-aggs
    "mm_audio_vad", "text_train_split", "text_lang_source_mi",
    // decision frame: hash groupBy + cached pairs + CC + two key joins
    "dedup_decision",
    // round-10 additions: the span-dedup rewrite (one explode + one hash
    // window + one doc groupBy — should track the substring miner's
    // scan-bound shape, minus its pair join), the kNN-density pass
    // (rides the graph join's n^1.5 candidate stream + two slim aggs),
    // and the radius search (bounded sample × probed fraction — gate
    // truth included, so linear with sample-capped constants)
    "text_sentence_dedup", "embed_knn_density", "ann_range_search",
    // round-11 additions: the domain rollup (per-row string algebra +
    // one hash window + one groupBy — scan-bound), BPE encode (corpus
    // collapses to its vocab, which the rotation amplifier GROWS
    // ~k-fold — the slope prices the vocab-sized tail), the erasure
    // audit (one cached BEFORE read + one decision rebuild + two packs
    // — should track dedup_decision), the JSONL round-trip (write +
    // schema'd scan + count-compare join), and the persisted-index
    // lifecycle (build/write/append/reload/serve — the serve term
    // dominates, same shape as ann_topk_ivfpq_full's)
    "text_domain_stats", "text_bpe_encode", "gdpr_forget_keys",
    "ingest_events_jsonl", "ann_index_serve",
    // round-12 additions: the fastText-style quality scorer — per-row
    // ngram hashing + one broadcast weight join + map-side groupBy;
    // must measure scan-bound (the weight table is fixed-size) — and
    // its shuffle-free streaming-filter form (batch plan priced; the
    // flag-on stream path is spec-territory)
    "text_quality_classifier", "stream_quality_filter",
    // sliding-window chunker: per-doc hash-once + per-chunk slice — the
    // ~W/S x row blowup is the only cost term, must stay scan-bound —
    // and the chunk-key dedup over it (one content-key shuffle)
    "text_chunk_windows", "text_chunk_dedup",
    // chunk-family closers: the doc purge (chunk shuffle + one doc_id
    // groupBy — must track text_chunk_dedup) and the passage near-dup
    // miner (shingle→minhash→banded LSH at chunk granularity; the
    // rotation bijection preserves within-replica chunk Jaccard and
    // destroys cross-replica shingles, the dedup_minhash_lsh honesty
    // argument — slope must stay linear, never all-pairs)
    "text_chunk_doc_purge", "text_chunk_minhash",
    // MIPS family: brute = bounded 10-query scan (linear by
    // construction — the slope row documents the constant); the LSH
    // route prices the augmented-space bucket join + hamming-ball
    // probing, which must stay linear like ann_topk_lsh
    "embed_mips", "ann_mips_lsh",
    // chunk-granularity packing: the chunk-key election shuffle + the
    // distributed prefix sum over surviving chunks — must track
    // text_chunk_dedup plus a pack constant
    "text_chunk_pack",
    // distributed global rank: one slim key scan + metadata collect +
    // banded row_number — must measure scan-bound
    "text_global_shuffle",
    // temperature mixing + its epoch-repeat realization: same groupBy +
    // broadcast-scalar shape as text_domain_mix — must measure
    // flat-to-linear
    "text_temperature_mix", "text_epoch_plan",
    // streaming passage dedup's batch plan: the chunker explode + one
    // content-key dropDuplicates shuffle — must track text_chunk_dedup
    "stream_chunk_dedup",
    // subject-access report: request-sized slices + one dedup election
    // pass + one pack pass — must stay linear with small constants
    "gdpr_access_report",
    // composed pipeline: lang/quality gates are scan-bound maps, the
    // ledger join keys doc_id, dedup election keys xxhash64(text) (r13
    // re-key — the election exchange ships 8-byte keys, not bodies),
    // pack is the distributed prefix sum — the slope must track its
    // most expensive stage (the classifier), not multiply stages
    "pipeline_e2e", "pipeline_funnel",
    // r13 additions: the persisted dedup-index lifecycle (build/persist
    // postings+shingles, frozen-banding append, routed probe — must
    // track dedup_minhash_lsh's banded-join shape plus the store I/O)
    // and general-τ mixing (groupBy(source) + broadcast scalar + a
    // per-source BigInteger root — flat like text_temperature_mix)
    "dedup_index_serve", "text_temperature_mix_tau",
    // r14: the maintained index lifecycles (build + 2 appends + compact +
    // retract + probe/serve) — compact/retract are O(index) rewrites, so
    // both entries should track corpus size like their *_serve twins
    "dedup_index_maintain", "ann_index_maintain")

  /** Relational/TPC-H family (VERDICT r4 ask #4): the shapes where a
    * surprise quadratic would hide — grouped countDistinct (q21, q16),
    * distinct bridges before dim joins (q16), deep join chains (q5, q8),
    * having-filtered whole-fact aggregation (q18, q1). Facts grow k-fold
    * with dims FIXED (the realistic lake-table scaling), so the join
    * family should measure ~linear at fixed dim sizes. */
  private val relFamily = Seq(
    "q1_pricing_summary", "q5_local_supplier", "q8_market_share",
    "q16_part_supplier_cnt", "q18_large_orders", "q21_waiting_orders",
    // q9: the biggest fact-fact sort-merge; q17: dual-branch fact scan
    // whose build side is dim-bounded (must NOT cliff like q21 did)
    "q9_product_profit", "q17_small_qty_revenue",
    // round-6 addition: the two-pass histogram refinement was THE r4
    // scale-killer in its buffered form — keep its slope on record
    "q_percentiles",
    // Z-order box query: first rep pays the build-once Morton rewrite of
    // the amplified lineitem (memoized per dir snapshot), min-of-reps
    // then measures the pruned read path
    "q_zorder_prune", "q_zorder3_prune",
    // per-user analytics over the replicated events (disjoint user
    // blocks keep per-user structure exact while the corpus grows)
    "q_retention_cohort", "stream_top_users",
    // round-7 additions (VERDICT r6 ask #4): the session window (state
    // per user, gap logic) and the ordered funnel (per-user sequence
    // match) — both must stay linear as events grow at fixed per-user
    // density
    "q_sessionize", "q_event_funnel",
    // round-7: the arrival-order watermark replay — its distributed
    // prefix max (bucketed parallel windows) is the scale claim to test
    "stream_late_data",
    // round-7: delete-capable CDC replay — one max(struct) groupBy over
    // the log; map-side combine should keep it linear-to-flat
    "upsert_cdc_apply",
    // round-8: the event-time skew profiling pass — two aggregations
    // (hour buckets, then one row per distinct hour); same linear shape
    // as upsert_cdc_apply
    "q_time_skew_diagnose",
    // round-9 additions: mergeable-HLL distinct counting (map-side
    // sketch partials — the exact-count gate is the knowingly-priced
    // term), the one-scan column profiler (its multi-distinct Expand
    // multiplies shuffled rows per ndv column — the slope row prices
    // that honestly), and the hive-partitioned month read (first rep
    // pays the memoized partitionBy rewrite; min-of-reps measures the
    // pruned directory read — replicas keep their dates, so the selected
    // month grows k-fold with the corpus and the honest expectation is
    // slope ~1 at a 1/n_months constant, the win being the untouched
    // other months)
    "q_hll_distinct", "q_profile_columns", "q_partition_prune",
    // round-9 late additions: the DQ rule sweep (one conditional-agg
    // scan + key-only anti-join) and the partial-merge view refresh
    // (two fact scans + a partials-sized merge) — both should track the
    // fact scan. q_pagerank is deliberately absent: its graph is the
    // supplier DIMENSION (fixed under fact amplification), so a slope
    // row would measure constant work and flatter the suite.
    "q_dq_rules", "q_incremental_agg_merge",
    // round-10: 2-itemset mining — baskets replicate exactly under the
    // orderkey block offset (pair supports grow k-fold, support
    // threshold keeps the qualifying set bounded), so the slope prices
    // the basket fold + pair explode against the k-fold fact scan
    "q_market_basket",
    // round-11: the bucketed co-located join (first rep pays the
    // per-scratch-dir layout write; min-of-reps measures the
    // exchange-free read — the amortization claim made literal), the
    // JDBC upsert protocol (foreachPartition batched replay — pure
    // per-row work + the stand-in store's map merges), the
    // multi-batch streaming upsert sink (per-batch stage-then-swap
    // merges over a growing target). gdpr_k_anonymity is deliberately
    // absent for the q_pagerank reason: customer is a DIMENSION, fixed
    // under fact amplification — its slope row would measure constant
    // work and flatter the suite.
    "q_bucketed_join", "upsert_jdbc_protocol", "stream_upsert_sink",
    // r13: snapshot-versioned CoW MERGE — create pays a k-fold write,
    // the merge term must stay O(batch + touched files), and both
    // as-of reads are k-fold scans: expect ~linear with write constants
    "lake_merge_asof",
    // r13: CoW DELETE + time travel (same shape, delete rewrite term)
    // and the per-batch-atomic lake sink (dir-snapshot memoized like
    // stream_upsert_sink: min-of-reps measures the final read-back;
    // the per-batch merge cost is pinned by EventStreamSpec)
    "lake_delete_asof", "stream_lake_sink",
    // r13: the snapshot-diff CDC read (two as-of scans + one keyed
    // full-outer join — must track the fact scan; the shared
    // three-generation table builds once per scratch snapshot)
    "lake_change_feed",
    // r13: compaction — a k-fold read + targetFiles rewrite, ~linear —
    // and the schema-evolving merge (same CoW shape + a mergeSchema read)
    "lake_compact_read", "lake_schema_evolve",
    // r13: incremental MV maintenance — v1-agg + delta application,
    // must cost O(agg + delta) on top of the shared table build
    "lake_incremental_mv",
    // r14: the CDC read is now a manifest diff (churned files only), so
    // lake_change_feed / lake_incremental_mv above should flatten vs
    // their r13 O(table) slopes. New entries: stats-pruned range scan
    // (create pays the k-fold range write; the SCAN term must track the
    // fixed interval, not the table), merge-on-read DV delete (O(keys)
    // sidecar + discovery scan), two-writer OCC (two CoW merges + the
    // O(delta) conflict classification), the CDF-streamed MV trajectory
    // (three O(delta) steps on top of the four-commit build), and the
    // maintained dedup index (build + 2 appends + compact + retract +
    // probe — the compact/retract terms are O(index))
    "lake_prune_read", "lake_delete_dv", "lake_concurrent_merge",
    "stream_lake_cdf",
    // r14 late additions: the Morton-layout box scan (create pays the
    // k-fold z-write + one bounds agg; the scan term tracks the box)
    // and the evolving-commit diff (CoW merge + one O(delta) feed read)
    "lake_zorder_scan", "lake_evolve_feed",
    // zero-copy clone (a k-fold create + one metadata commit + a CoW
    // merge on the clone) and restore (create + 2 merges + a metadata
    // re-reference commit) — both dominated by their table builds
    "lake_clone_merge", "lake_restore_read",
    // SQL over the registered source: k-fold create + low-band merge;
    // the predicate's scan term must track the fixed interval
    "lake_sql_source",
    // the registered streaming source's full feed: four-commit build +
    // three O(delta) diffs — the build dominates, the feed tracks churn
    "stream_lake_source",
    // r15: the SQL-first lake surface. All five pay a k-fold corpus
    // write in their builds; the interesting terms must NOT be k-fold:
    // partition_prune's scan tracks the one-priority slice,
    // partition_evolve's evolution commit is header-only + a FIXED
    // 4-key CoW merge, sql_ddl's DELETE is an O(keys) DV commit,
    // merge_into's three statements are the CoW merge kernels, and
    // sql_call's compact is the honest k-fold rewrite (the service
    // being priced)
    "lake_partition_prune", "lake_partition_evolve", "lake_sql_ddl",
    "lake_merge_into", "lake_sql_call",
    // r16: ALTER is a header-only commit (flat) atop a k-fold build;
    // merge_row's two row-level statements classify against the
    // envelope-pruned key scan but their matched classes are k-fold by
    // construction (the lake_merge_into honesty note); zorder_call and
    // cluster_join price the k-fold re-cluster/INSERT builds with the
    // box scan resp. the exchange-free join as the served term
    "lake_sql_alter", "lake_merge_row", "lake_zorder_call",
    "lake_cluster_join", "lake_sql_ctas",
    // r17: runtime_prune pays the k-fold range build; the gated JOIN's
    // fact scan is runtime-pruned to the FIXED 20-key dim, so the
    // served term must flatten while the build scales. column_map's
    // three ALTERs are header-only atop the k-fold build + a k-fold
    // matched-class upsert (the merge_into honesty note). convert's
    // in-place registration is footer-metadata-only atop the k-fold
    // plain-parquet write, then a k-fold-class CoW merge + O(keys) DV
    "lake_runtime_prune", "lake_column_map", "lake_convert",
    // r18: delete_pos prices the k-fold build + an O(matched) positional
    // sidecar commit and ordinal-filtered read (no key anti-join, so
    // the served term must not scale with identity width); bloom_skip
    // pays the k-fold build + per-file bloom construction (one in-plan
    // agg scan of the written files) with a FIXED 3-id lookup as the
    // served term — the lookup must flatten as blooms keep the opened
    // file set constant; cluster_fold's 16⋈8 exchange-free join is
    // k-fold on both sides (the honest join growth, like cluster_join);
    // rename_feed's header-only RENAME is flat atop two k-fold-class
    // merge batches + the O(churn) feed and MV fold
    "lake_delete_pos", "lake_bloom_skip", "lake_cluster_fold",
    "lake_rename_feed",
    // r18: agg_push's served term is a MANIFEST fold (O(#files), zero
    // data I/O) atop the k-fold build — clean-phase cost must be flat;
    // the DV'd fallback phase is the honest k-fold row scan
    "lake_agg_push",
    // r18: compact_where pays the k-fold partitioned build + DV delete;
    // the SERVED term is the scoped rewrite — 1/5 of the corpus (one
    // priority partition), so the slope prices partition-proportional
    // maintenance, never a whole-table rewrite
    "lake_compact_where",
    // MAD anomaly flags: one hourly groupBy + a time-bounded collect
    // journey paths: per-user sessionize + per-session rank windows;
    // bloom semi-join: the probe must keep the reduced stream (and so
    // the join) linear in the fact at a fixed-selectivity dimension
    "q_event_anomaly", "q_event_paths", "q_bloom_semijoin")

  private val family = docFamily ++ relFamily

  /** Scaling-only measurement rows that are not registered driver
    * queries: the full-query-set ranked ANN searches (the registered
    * gate entries sample <= 64 queries, so their slopes no longer price
    * the all-queries serving shape). */
  private val extraFns: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_topk_lsh_full" ->
      ((s: SparkSession, d: String) => graft.similarity.SimilarityOps.annTopkLshRanked(s, d)),
    "ann_topk_ivf_full" ->
      ((s: SparkSession, d: String) => graft.similarity.SimilarityOps.annTopkIvfRanked(s, d)),
    "ann_topk_ivfpq_full" ->
      ((s: SparkSession, d: String) => graft.similarity.SimilarityOps.annTopkIvfPqRanked(s, d)))

  /** Write k-fold amplified documents+embeddings under outDir. */
  def amplify(spark: SparkSession, baseDir: String, outDir: String, k: Int): Unit = {
    val lower = ('a' to 'z').mkString
    val upper = ('A' to 'Z').mkString
    def rot(s: String, i: Int) = s.drop(i % 26) + s.take(i % 26)

    val docs = Tables.documents(spark, baseDir)
    // symmetric to the vec_id guard below: a base corpus with doc_id past
    // the replica block size would silently collide replica doc_ids and
    // corrupt the dedup-family measurements
    val maxDocId = docs.agg(max(col("doc_id"))).head().getLong(0)
    require(maxDocId < 100000000L,
      s"base doc_id range too large for amplification: $maxDocId >= 1e8")
    val docReps = (0 until k).map { i =>
      val rotT = if (i == 0) col("text")
                 else translate(col("text"), lower + upper, rot(lower, i) + rot(upper, i))
      // the 26-letter rotation WRAPS: replicas i ≡ j (mod 26) would carry
      // IDENTICAL text, and past x26 the clone groups grow with k — so
      // clone-pair candidates in the pair miners grow ~k·g² (the r13 x100
      // sweep measured ngram_jaccard superlinear purely from this), an
      // amplifier artifact of the same class as the documented
      // mm_phash_neardup raster-clone exclusion. Fix at the source: tag
      // every word with the rotation GROUP index (i div 26) so replicas
      // stay pairwise shingle-disjoint at any k — a bijection on words,
      // so within-replica Jaccard/chunk/dedup structure is preserved
      // exactly; group 0 is byte-identical to the historical amplifier,
      // keeping every x<=26 number comparable.
      val t = if (i < 26) rotT
              else regexp_replace(rotT, "(\\S+)", "$1q" + (i / 26))
      docs.select(
        (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        t.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)
    docReps.write.mode("overwrite").parquet(s"$outDir/documents.parquet")

    val emb = Tables.embeddings(spark, baseDir)
    // the replica offset must keep every id below SimilarityOps' 1e6
    // planted-query threshold AND above the base id range — enforce it
    // rather than silently turning whole replicas into ANN queries
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    // adaptive replica block (r10, was a fixed 100k which capped the
    // sweep at x10): the smallest multiple of 25 above maxId — the
    // mod-25 alignment preserves every replica's every-25th planted-
    // query structure exactly — so high scales still fit under the 1e6
    // planted-id offset (SimilarityOps.PlantedIdOffset: ids >= 1e6 are
    // queries, so a replica crossing it would silently become queries;
    // SimilarityOps' id-space guard also fails such a corpus loudly)
    val block = (maxId / 25L + 1L) * 25L
    require((k - 1).toLong * block + maxId < 1000000L,
      s"scale $k pushes replica ids past the 1e6 planted-query offset " +
        s"(replica block $block from base max id $maxId)")
    val embReps = (0 until k).map { i =>
      val v = if (i == 0) col("embedding")
              else expr(s"""transform(embedding, (x, d) ->
                cast(x * (CASE WHEN pmod(xxhash64(concat('$i:', d)), 2) = 0
                          THEN 1.0D ELSE -1.0D END) as float))""")
      emb.select(
        (col("vec_id") + lit(i.toLong * block)).as("vec_id"),
        v.as("embedding"), col("label"))
    }.reduce(_ unionAll _)
    embReps.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")

    // relational facts replicate with an orderkey block offset: every
    // order keeps its exact lineitem structure (join selectivity, per-
    // order sums, l_partkey/l_suppkey references preserved), while the
    // DIMENSION tables stay fixed and are copied through — the realistic
    // lake scaling where facts grow and dims don't. Customer/part/
    // supplier fan-in grows k-fold by construction.
    val ord = Tables.orders(spark, baseDir)
    val li = Tables.lineitem(spark, baseDir)
    val maxOk = ord.agg(max(col("o_orderkey"))).head().getLong(0)
    require(maxOk < 10000000L,
      s"base o_orderkey range too large for amplification: $maxOk >= 1e7")
    // lake_merge_row's synthetic insert identities live at +1e9; an
    // amplified corpus must stay BELOW that line or replica keys would
    // collide with the insert class and silently re-scope the measured
    // statement (review r16-2 #6 — guard the assumption, not just the
    // constant)
    require(k < 100,
      s"amplification factor $k would push replica o_orderkeys past 1e9 " +
        "(the lake_merge_row insert-identity offset)")
    (0 until k).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * 10000000L))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    (0 until k).map { i =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * 10000000L))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      Tables.load(spark, baseDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }

    // events replicate with disjoint user/event id blocks: every replica
    // keeps the exact per-user event-time structure (cohorts, sessions,
    // leaderboard counts) while users never collide across replicas — the
    // honest scaling for per-user analytics. Read RAW (nanos stay long;
    // Tables.events applies its DIV-1000 conversion on load) so the
    // scratch copy round-trips through the same loader path.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = Tables.load(spark, baseDir, "events")
    val maxUid = ev.agg(max(col("user_id"))).head().getLong(0)
    val maxEid = ev.agg(max(col("event_id"))).head().getLong(0)
    require(maxUid < 1000000L && maxEid < 1000000000L,
      s"base event id ranges too large for amplification: uid $maxUid eid $maxEid")
    (0 until k).map { i =>
      ev.withColumn("user_id", col("user_id") + lit(i.toLong * 1000000L))
        .withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** Deterministic CLUSTERED embedding fixture (VERDICT r11 ask #3): the
    * ANN dial schedules and recall floors were all measured on
    * uniform-random vectors — IVF's documented worst case, where holding
    * recall costs a constant probed fraction. Production embedding spaces
    * are clustered; this fixture measures that regime so the
    * clustered-vs-uniform response surfaces sit side by side in
    * BASELINE.md (the uniform floors stay the conservative gates).
    *
    * Geometry is pure integer/hash arithmetic (the planted-twin
    * convention — no RNG state, byte-identical across runs): each of n
    * ids hashes to one of `cells` planted cell centers; center
    * components are uniform in [-1,1] from xxhash64(cell,dim), and each
    * vector is its center plus sigma=0.3 per-component hash noise from
    * xxhash64(id,dim). Expected geometry: intra-cell cosine ~0.92
    * (variance ratio (1/3)/(1/3 + 0.09/3); spec floor 0.85), cross-cell
    * ~0 (random 64-dim directions) — tight planted clusters a coarse
    * quantizer can align with. Every-25th planted-query structure
    * arrives for free: SimilarityOps derives queries from `vec_id % 25`
    * over ANY corpus. Writes only embeddings.parquet — the ANN probe
    * paths touch nothing else. */
  def clusteredEmbeddings(spark: SparkSession, outDir: String,
      n: Long, cells: Int): Unit = {
    require(n < 1000000L,
      s"clustered fixture n=$n would cross the 1e6 planted-query id offset")
    require(cells > 0, s"clustered fixture needs cells > 0, got $cells " +
      "(pmod by 0 would silently null every cell under non-ANSI SQL)")
    val dim = 64
    val sigma = 0.3
    spark.range(0L, n, 1L, 32)
      .select(col("id").as("vec_id"))
      .withColumn("cell",
        pmod(xxhash64(concat(lit("cell:"), col("vec_id"))), lit(cells.toLong)))
      .withColumn("embedding", expr(
        s"""transform(sequence(0, ${dim - 1}), d -> cast(
              (pmod(xxhash64(concat('c:', cell, ':', d)), 2001) - 1000) / 1000.0
            + $sigma * (pmod(xxhash64(concat('n:', vec_id, ':', d)), 2001) - 1000) / 1000.0
            as float))"""))
      .select(col("vec_id"), col("embedding"), col("cell").cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scratch = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/tmp/graft_scale")
    val scales = sys.env.getOrElse("SPARK_GRAFT_SCALES", "1,3,10")
      .split(",").map(_.trim.toInt).toSeq
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt

    // Spark's default maxPartitionBytes, unlike Bench: the amplified dirs
    // are written as 32 part files, so scans parallelize without it
    // (BASELINE.md)
    val spark = GraftSession("graft-scaling-bench")

    val times = scala.collection.mutable.LinkedHashMap[String, Map[Int, Double]]()
    for (k <- scales) {
      val dir = s"$scratch/x$k"
      amplify(spark, baseDir, dir, k)
      // warmup: touch the amplified tables so the first measured query
      // pays no FS surprise
      Tables.documents(spark, dir).write.format("noop").mode("overwrite").save()
      Tables.embeddings(spark, dir).write.format("noop").mode("overwrite").save()
      Tables.lineitem(spark, dir).write.format("noop").mode("overwrite").save()
      Tables.orders(spark, dir).write.format("noop").mode("overwrite").save()
      for (name <- family if only.forall(_.contains(name))) {
        val fn = extraFns.getOrElse(name, SparkEntry.queries(name))
        System.gc()
        val t = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min
        times(name) = times.getOrElse(name, Map.empty) + (k -> t)
      }
      // Heavy-tail retry, mirroring graft.Bench (r9): the in-family r9
      // sweep posted dedup_containment at 20.6 s at x10 while the same
      // code measured 6.4 s isolated minutes later — transient host
      // contention. One extra rep at the END of the scale's loop (a
      // different noise window) for any row whose min exceeded 2.5 s;
      // keep the overall min. Genuinely slow rows re-measure the same,
      // so slopes stay honest while contention spikes self-correct.
      for (name <- family if only.forall(_.contains(name))
           if times(name).getOrElse(k, 0.0) >= 2.5) {
        val fn = extraFns.getOrElse(name, SparkEntry.queries(name))
        System.gc()
        // guarded like Bench.run: the retry fires under the very host
        // contention it exists to dodge — a transient failure here must
        // keep the original min, not abort the whole multi-scale sweep
        try {
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          val t = (System.nanoTime() - t0) / 1e9
          if (t < times(name)(k)) {
            System.err.println(f"[scaling] $name x$k retry: ${times(name)(k)}%.2f -> $t%.2f s")
            times(name) = times(name) + (k -> t)
          }
        } catch { case e: Throwable =>
          System.err.println(s"[scaling] $name x$k retry FAILED " +
            s"(keeping original min): ${e.getMessage}")
        }
      }
      // ingest family (VERDICT r5 ask #4): the cards corpus is SYNTHESIZED
      // (no driver file to amplify), so scale the generator itself. The
      // registered entry parses 500 cards — overhead, not throughput — so
      // the scaling row runs the same ingestCards pipeline at 20k·k rows,
      // where the 68-column JSON parse dominates and a superlinear parse
      // or validate step would show.
      if (only.forall(_.contains("ingest_json_cards"))) {
        System.gc()
        val t = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          graft.ingest.IngestOps.ingestCards(
            graft.ingest.IngestOps.syntheticRawCards(spark, 20000L * k))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }.min
        times("ingest_json_cards") = times.getOrElse("ingest_json_cards", Map.empty) + (k -> t)
      }
      val qs = times.keys.toSeq.map(n => "\"" + n + f"""\":${times(n)(k)}%.3f""").mkString("{", ",", "}")
      println(f"""{"metric":"scaling","scale":$k,"queries":$qs}""")
    }

    // least-squares slope of ln(t) vs ln(scale) across the measured scales
    println(f"${"query"}%-24s " + scales.map(k => f"x$k%8s").mkString + "   slope")
    times.foreach { case (name, m) =>
      val pts = scales.map(k => (math.log(k.toDouble), math.log(m(k))))
      val n = pts.size; val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum; val sxy = pts.map(p => p._1 * p._2).sum
      val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
      println(f"$name%-24s " + scales.map(k => f"${m(k)}%8.2f").mkString + f"   $slope%5.2f")
    }
    spark.stop()
  }
}
