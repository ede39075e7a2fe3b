package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + COVERAGE.md for the
  * operator-to-query mapping.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.q01(spark, "/root/testdata/sf0.001")

  /** q98's persisted IVF+SQ8 serving layout. */
  private val q98Index = Build("q98_index_build")(Queries.q98BuildIndex)

  /** q106's two-commit SCD-2 warehouse: built once and served by q106,
    * q119, q141, q166 and q172; q148's replica is bootstrapped from it.
    */
  private val q106Warehouse = Build("q106_warehouse_build")(Queries.q106Build)

  /** q148's replica, bootstrapped at the q106 warehouse's v1. */
  private val q148Replica = Build.on("q148_replica_bootstrap", q106Warehouse) {
    case (s, wh @ (path, v1, _)) => (wh, Queries.q148Bootstrap(s, path, v1))
  }

  /** The queries whose one-time build (a warehouse, a persisted index or a
    * landed fixture) is split from their per-invocation serve. `queries`
    * answers each fused — build, then serve — which is what the oracle
    * gate checks; Bench runs each build once per key before timing (its
    * cost is the record's `setup_sec`) and times only the serve, the cost
    * a deployment pays per query, so build noise cannot mask a
    * serve-path regression.
    */
  val staged: Map[String, Staged[_]] = Map(
    /* q98: IVF + SQ8 ANN — the composed billion-scale serving layout under
     * one oracle, END-TO-END THROUGH STORAGE: the embeddings are quantized
     * once and persisted cell-partitioned
     * ([[Similarity.writeIvfSq8Index]] — codes-only VersionedTable, 1
     * byte/dim at rest), then the probe opens only the query's 3 nearest
     * cells' partitions and scores their int8 codes asymmetrically
     * ([[Similarity.probeIvfSq8Index]], q96's recipe). The oracle chains
     * both proofs — cell assignment + probe set replayed with ordered
     * folds, then quantization + the int8 fold over exactly the candidate
     * set — so any stored/inline divergence fails the gate. SimilaritySpec
     * additionally proves the probe's file reads stay inside the nprobe
     * partition dirs.
     */
    "q98_ann_ivf_sq8" ->
      Staged(q98Index) { case (s, _, (idx, cents, qv)) => Queries.q98Probe(s, idx, cents, qv) },
    /* q106: CHANGE DATA FEED ([[graft.sources.VersionedTable.changeFeed]])
     * — q80's two-commit SCD-2 warehouse build, then the typed row-level
     * diff between the post-batch1 and post-batch2 versions: each updated
     * customer yields an `update_preimage`/`update_postimage` pair for the
     * closed row plus an `insert` for the new active row; untouched rows
     * (even inside rewritten buckets) emit nothing. Only manifest-changed
     * buckets are read on either side. Oracle recomputes all three change
     * classes relationally from `orders`.
     */
    "q106_change_feed" ->
      Staged(q106Warehouse) { case (s, _, (path, v1, v2)) => Queries.q106Feed(s, path, v1, v2) },
    /* q119: INCREMENTAL MATERIALIZED-VIEW MAINTENANCE ([[operators.Mv]])
     * — the per-order-year (active-row count, total cents) view over the
     * q106 SCD-2 warehouse, bootstrapped at v1 and then MAINTAINED to v2
     * purely from the change feed: O(changed rows) deltas folded into the
     * view, never a second snapshot scan. The oracle recomputes the v2
     * view relationally from `orders`, so the hash gate proves
     * maintain(bootstrap(v1), feed) == recompute(v2) exactly.
     */
    "q119_incremental_mv" ->
      Staged(q106Warehouse) { case (s, _, (path, v1, v2)) => Queries.q119Maintain(s, path, v1, v2) },
    /* q127: POINT-IN-TIME LOOKUP JOIN ([[operators.Scd2
     * .pointInTimeLookup]]) — "the warehouse as it was known at time t",
     * as a join: every (custkey, probe instant) resolves to the SCD-2
     * version valid then. The warehouse stamps `record_from` as loader
     * payload (commit 1 at 2001-01-01, commit 2 at 2002-01-01); probes at
     * 2001-06-01 see the first batch's rows only (including rows since
     * superseded), probes at 2002-06-01 see the post-upsert state — no
     * future leakage in either direction. Oracle replays both probe
     * instants relationally from `orders`.
     */
    "q127_pit_lookup" ->
      Staged(Build("q127_warehouse_build")(Queries.q127Build)) {
        case (s, d, (path, _, v2)) => Queries.q127Probe(s, path, v2, d)
      },
    /* q130: PERSISTED BM25 INDEX ([[operators.Retrieval.writeBm25Index]] /
     * [[operators.Retrieval.probeBm25Index]]) — q103's scoring served from
     * a stored inverted index instead of a per-query corpus tokenization:
     * postings and document frequencies hash-partitioned by token bucket
     * on disk, a probe reads only its terms' bucket directories (the text
     * twin of q98's stored IVF+SQ8 serving path; the bench times the probe
     * with the one-time build in setup_sec). Result is row-identical to
     * running bm25TopK directly, which is what the oracle recomputes.
     */
    "q130_bm25_index" ->
      Staged(Build("q130_index_build")(Queries.q130Build)) { (s, _, idx) => Queries.q130Probe(s, idx) },
    /* q140: RIGHT-TO-BE-FORGOTTEN SWEEP, ORACLE-GATED — builds the q106
     * SCD-2 warehouse (two commits), then [[operators.Scd2.deleteKeys]]
     * removes every record (history included) for the doomed key set (all
     * MACHINERY-segment customers — a broadcast null-safe anti join over
     * only the touched buckets), and the surviving ACTIVE snapshot is
     * emitted. The oracle recomputes final state relationally: global
     * latest order per customer minus the doomed segment — so the delete
     * path's bucket pruning, manifest clears and anti-join semantics are
     * all hash-gated, not just spec-proven.
     */
    "q140_gdpr_sweep" ->
      Staged(Build("q140_sweep_build")(Queries.q140Build)) { (s, _, path) => Queries.q140Read(s, path) },
    /* q141: SNAPSHOT-DRIFT DQ between warehouse versions
     * ([[dq.DqSuite.versionDrift]]) — the nightly between-commits gate:
     * the same metric set (record count, active count, distinct keys,
     * active value cents) evaluated against version 1 and version 2 of
     * the q106 warehouse, emitted as (metric, from, to, delta) rows. The
     * oracle re-derives both versions' stats from the source relations
     * (v1 = pre-1998 latest per key, v2 = v1 superseded by the post-1998
     * batch), so time travel AND the SCD-2 close arithmetic are gated.
     */
    "q141_version_drift" ->
      Staged(q106Warehouse) { case (s, _, (path, v1, v2)) => Queries.q141Drift(s, path, v1, v2) },
    /* q145: DEFERRED GDPR DELETE (deletion vectors, merge-on-read —
     * [[graft.sources.VersionedTable.deleteKeysDeferred]]): q140's
     * takedown sweep with the physical rewrite deferred — the delete
     * commits as a key-list sidecar + manifest entry (O(|keys|),
     * independent of table size) and every read anti-joins it. Same
     * oracle as q140 (the relational recompute), gating the merge-on-
     * read serving path; VersionedTableSpec covers the no-bucket-
     * rewritten claim, compact's physical apply + entry clear, and
     * vacuum's sidecar reclaim.
     */
    "q145_gdpr_deferred" ->
      Staged(Build("q145_dv_build")(Queries.q145Build)) { (s, _, path) => Queries.q145Read(s, path) },
    /* q148: CDC DOWNSTREAM APPLY
     * ([[graft.sources.VersionedTable.applyChangeFeed]]) — the consumer
     * half of the q106 change feed: a replica bootstrapped at v1 follows
     * the source to v2 by applying the feed (idempotent upsert-by-key,
     * touched-bucket rewrite only). Returned rows are the replica's
     * ACTIVE snapshot; the oracle re-derives v2's active set from the
     * source relations, so bootstrap + feed + apply are all gated.
     * VersionedTableSpec asserts full-table equality (history included)
     * and idempotent re-apply.
     */
    "q148_cdc_apply" ->
      Staged(q148Replica) {
        case (s, _, ((path, v1, v2), replica)) => Queries.q148Apply(s, path, v1, v2, replica)
      },
    /* q161: PERSISTED IVF+PQ INDEX ([[Similarity.writePqIndex]] /
     * [[Similarity.probePqIndex]]) — q115's serving layout made
     * storage-real, the q98 treatment at 32x: train once (q114's two
     * deterministic Lloyd iterations), encode each vector to 8 packed
     * one-byte codes, store them cell-partitioned by the q72 coarse
     * quantizer in a VersionedTable, then serve top-20 by opening ONLY the
     * query's 3 nearest cells' partitions and folding the driver-built ADC
     * table over the stored bytes. The oracle replays the inline
     * computation (q115's chain), so any stored/inline divergence — codes,
     * cells, pack, ADC kernel — fails the gate; SimilaritySpec adds the
     * file-level pruning proof.
     */
    "q161_pq_index_probe" ->
      Staged(Build("q161_index_build")(Queries.q161BuildIndex)) {
        case (s, _, (idx, coarse, cbs, qv)) => Queries.q161Probe(s, idx, coarse, cbs, qv)
      },
    /* q163: RESIDUAL-ENCODED IVF+PQ (IVFADC — the standard billion-scale
     * FAISS layout, public design): q161's persisted index with the PQ
     * codes assigned in RESIDUAL space — each vector stores
     * `PQ(v − μ_cell(v))`, and a probe scores each cell's candidates
     * against the residual query `q − μ_c` via that cell's own ADC table.
     * Residuals cluster far tighter around the origin than raw vectors,
     * so the same 8-byte code budget buys materially better recall
     * (SimilaritySpec measures it head-to-head). The oracle replays the
     * whole chain — coarse assign, residual, residual-space training,
     * encode, per-cell ADC — bit-for-bit over the stored index.
     */
    "q163_ann_ivf_pq_residual" ->
      Staged(Build("q163_index_build")(Queries.q163BuildIndex)) {
        case (s, _, (idx, coarse, cbs, qv)) => Queries.q163Probe(s, idx, coarse, cbs, qv)
      },
    /* q165: PERSISTED SKETCH ROLLUP — the pre-aggregation layout every
     * 100 TB "distinct users over an arbitrary date range" query needs:
     * per-(day, event_type) HLL sketches committed to the versioned
     * warehouse DAY-PARTITIONED (two incremental commits here — the
     * nightly append shape: a new day's load touches only its own
     * partitions), then range queries served by MERGING the stored
     * sketch bytes — `readPartitions` over the enumerated day list, so
     * the manifest prunes to the range's partitions before any file is
     * listed, and the events table is never rescanned. q125 proved HLL
     * mergeability inside one job; this is the cross-job half: the
     * sketches survive as table state and any future range reads
     * O(days × types) sketch rows instead of the raw corpus. The exact
     * side is the audit (`est_ok`: merged estimate within 5% of exact),
     * pinned TRUE by the oracle — the q63/q113/q125 self-validating
     * pattern, so an estimate drifting out of bound hash-fails.
     */
    "q165_sketch_rollup" ->
      Staged(Build("q165_rollup_build")(Queries.q165Build)) { (s, d, path) => Queries.q165Probe(s, path, d) },
    /* q166: STREAMING CDC REPLICA APPLY
     * ([[graft.streaming.Streaming.cdcApplySink]]) — q148's consumer run
     * as a CONTINUOUS stream: the v1→v2 change feed arrives as TWO
     * micro-batches (key-hash split on o_custkey, so each key's
     * insert/delete/update pre+post rows stay in one batch), and each
     * batch applies to the replica as one marker-committed idempotent
     * upsert (touched-bucket rewrite only). The final replica active set
     * must equal the source's v2 active set — q148's oracle verbatim, so
     * batch boundaries, the marker protocol, and replay order are all
     * hash-gated. StreamingSpec adds the lost-checkpoint restart case
     * (re-delivered batch ids commit nothing).
     */
    "q166_stream_cdc_apply" ->
      Staged(q106Warehouse) { case (s, _, (path, v1, v2)) => Queries.q166Stream(s, path, v1, v2) },
    /* q171: PERSISTED HISTOGRAM ROLLUP
     * ([[graft.dq.DqSuite.histogramByKey]]/[[graft.dq.DqSuite.histogramMergeServe]])
     * — the EXACT-mergeable profiling twin of the q165 sketch rollup:
     * per-day sparse histogram partials of event value cents (fixed
     * caller-set bounds, so the same value bins identically in every
     * partition forever) committed day-partitioned in two incremental
     * commits, then arbitrary date ranges profiled by ADDING the stored
     * partials — no tolerance, no sketch: the merged histogram IS the
     * direct histogram of the range, which the oracle recomputes from
     * raw events and hash-compares.
     */
    "q171_histogram_rollup" ->
      Staged(Build("q171_rollup_build")(Queries.q171Build)) { (s, _, path) => Queries.q171Probe(s, path) },
    /* q172: INCREMENTAL KEYED-JOIN VIEW MAINTENANCE
     * ([[operators.Mv.maintainKeyedJoin]]) — the join analogue of q119's
     * count/sum view: V = latest-order ⋈ customer-dimension on custkey,
     * bootstrapped at (a1, b1), then BOTH sides advance (the q106 SCD-2
     * upsert on the fact side; a segment update on custkey % 7 = 0 on the
     * dimension side) and the view follows by recomputing ONLY the keys
     * either change feed names — every other row carries forward by anti
     * join, untouched. O(changed keys), never a snapshot join. The oracle
     * recomputes the full join at the to-versions, so carry/recompute
     * partitioning errors hash-fail.
     */
    "q172_join_mv" ->
      Staged(q106Warehouse) { case (s, d, (path, v1, v2)) => Queries.q172Maintain(s, path, v1, v2, d) },
    /* q182: STREAMING WARC INGESTION — the continuous-crawl production
     * shape: .warc.gz files land in a directory and a file-source stream
     * ([[graft.sources.Warc.readWarc]] over `binaryFile` micro-batches,
     * maxFilesPerTrigger forcing several batches) parses them as they
     * arrive. The parse is stateless, so batch boundaries cannot perturb
     * the result: the oracle is q175's, verbatim — the streamed ingest
     * must converge to the batch parse bit-for-bit, torn-file sentinels
     * included. Fixture files are written executor-side (no driver
     * funnel), one .warc.gz per 5 docs.
     */
    "q182_stream_warc" ->
      Staged(Build("q182_fixture_land")(Queries.q182Build)) { (s, _, landing) => Queries.q182Stream(s, landing) }
  )

  /** One entry per implemented operator from SURVEY.md §2 (+ the LLM-pipeline
    * operator set). Every entry has a DuckDB oracle in [[Oracles.all]] —
    * including the sketch/LSH queries (q37/q38/q41/q44 replicate the banding
    * and hash families in SQL; q63 emits exact stats + deterministic
    * bound-check booleans the oracle recomputes). The [[staged]] queries
    * enter fused, as serve(build).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (Queries.q01 _),
    "q02_filter_pushdown" -> (Queries.q02 _),
    "q03_join_revenue" -> (Queries.q03 _),
    "q04_semi_join" -> (Queries.q04 _),
    "q05_anti_join" -> (Queries.q05 _),
    "q06_dim_rollup" -> (Queries.q06 _),
    "q07_window_latest" -> (Queries.q07 _),
    "q08_distinct" -> (Queries.q08 _),
    "q09_in_list" -> (Queries.q09 _),
    "q10_null_sentinel" -> (Queries.q10 _),
    "q11_scd2_upsert" -> (Queries.q11 _),
    "q12_state_delta" -> (Queries.q12 _),
    "q13_explode_tokens" -> (Queries.q13 _),
    "q14_first_element" -> (Queries.q14 _),
    "q15_json_extract" -> (Queries.q15 _),
    "q16_float_to_long" -> (Queries.q16 _),
    "q17_year_filter" -> (Queries.q17 _),
    "q18_date_parts" -> (Queries.q18 _),
    "q19_mask_hash" -> (Queries.q19 _),
    "q20_scd2_two_key" -> (Queries.q20 _),
    "q21_dq_suite" -> (Queries.q21 _),
    "q22_unique_check" -> (Queries.q22 _),
    "q23_rollup" -> (Queries.q23 _),
    "q24_sessions" -> (Queries.q24 _),
    "q26_distinct_profile" -> (Queries.q26 _),
    "q27_pivot" -> (Queries.q27 _),
    "q50_multi_join" -> (Queries.q50 _),
    "q51_conditional_agg" -> (Queries.q51 _),
    "q52_like_filter" -> (Queries.q52 _),
    "q53_date_arith" -> (Queries.q53 _),
    "q54_correlated_avg" -> (Queries.q54 _),
    "q55_union_distinct" -> (Queries.q55 _),
    "q56_exists_combo" -> (Queries.q56 _),
    "q57_string_funcs" -> (Queries.q57 _),
    "q58_min_by_group" -> (Queries.q58 _),
    "q30_dedup_exact" -> (Queries.q30 _),
    "q31_text_tokens" -> (Queries.q31 _),
    "q32_text_quality" -> (Queries.q32 _),
    "q33_lang_id" -> (Queries.q33 _),
    "q34_rolling_fingerprint" -> (Queries.q34 _),
    "q35_minhash_signature" -> (Queries.q35 _),
    "q36_jaccard_pairs" -> (Queries.q36 _),
    "q39_simhash_portable" -> (Queries.q39 _),
    "q37_minhash_lsh" -> (Queries.q37 _),
    "q38_simhash" -> (Queries.q38 _),
    "q40_ann_bruteforce" -> (Queries.q40 _),
    "q41_ann_lsh" -> (Queries.q41 _),
    "q42_multimodal_meta" -> (Queries.q42 _),
    "q43_event_windows" -> (Queries.q43 _),
    "q45_stream_windows" -> (Queries.q45 _),
    "q46_lsh_buckets" -> (Queries.q46 _),
    "q47_embedding_neardup" -> (Queries.q47 _),
    "q48_profile" -> (Queries.q48 _),
    "q49_asof_join" -> (Queries.q49 _),
    "q60_repetition" -> (Queries.q60 _),
    "q61_vocab" -> (Queries.q61 _),
    "q62_stratified_sample" -> (Queries.q62 _),
    "q63_approx_stats" -> (Queries.q63 _),
    "q65_simhash_neardup" -> (Queries.q65 _),
    "q66_pii_redact" -> (Queries.q66 _),
    "q67_unicode_canon" -> (Queries.q67 _),
    "q68_quality_filter" -> (Queries.q68 _),
    "q64_tfidf" -> (Queries.q64 _),
    "q44_media_decode" -> (Queries.q44 _),
    "q70_pipeline_golden" -> (Queries.q70 _),
    "q71_report_ingest" -> (Queries.q71 _),
    "q72_ann_ivf" -> (Queries.q72 _),
    "q85_ann_ivf_trained" -> (Queries.q85 _),
    "q86_semantic_dedup" -> (Queries.q86 _),
    "q87_mixture_sample" -> (Queries.q87 _),
    "q88_dup_groups" -> (Queries.q88 _),
    "q89_gopher_gates" -> (Queries.q89 _),
    "q90_ann_ivf_sampled" -> (Queries.q90 _),
    "q91_image_decode" -> (Queries.q91 _),
    "q92_hot_spans" -> (Queries.q92 _),
    "q93_url_screen" -> (Queries.q93 _),
    "q94_audio_decode" -> (Queries.q94 _),
    "q95_video_meta" -> (Queries.q95 _),
    "q96_ann_sq8" -> (Queries.q96 _),
    "q97_corpus_pipeline" -> (Queries.q97 _),
    "q99_bpe_tokens" -> (Queries.q99 _),
    "q100_lm_perplexity" -> (Queries.q100 _),
    "q101_seq_packing" -> (Queries.q101 _),
    "q102_stream_dedup" -> (Queries.q102 _),
    "q103_bm25_topk" -> (Queries.q103 _),
    "q104_stream_interval_join" -> (Queries.q104 _),
    "q105_substring_dedup" -> (Queries.q105 _),
    "q107_hybrid_rrf" -> (Queries.q107 _),
    "q108_recipe_substring" -> (Queries.q108 _),
    "q109_bm25_batch" -> (Queries.q109 _),
    "q110_video_frames" -> (Queries.q110 _),
    "q111_stream_enrich" -> (Queries.q111 _),
    "q112_fuzzy_match" -> (Queries.q112 _),
    "q113_heavy_hitters" -> (Queries.q113 _),
    "q114_ann_pq" -> (Queries.q114 _),
    "q115_ann_ivf_pq" -> (Queries.q115 _),
    "q116_pagerank" -> (Queries.q116 _),
    "q117_gapfill" -> (Queries.q117 _),
    "q118_funnel" -> (Queries.q118 _),
    "q120_range_join" -> (Queries.q120 _),
    "q121_leakage_split" -> (Queries.q121 _),
    "q122_retention" -> (Queries.q122 _),
    "q123_cube" -> (Queries.q123 _),
    "q124_moving_agg" -> (Queries.q124 _),
    "q125_hll_sketch" -> (Queries.q125 _),
    "q126_neardup_split" -> (Queries.q126 _),
    "q128_image_neardup" -> (Queries.q128 _),
    "q129_bloom_decontam" -> (Queries.q129 _),
    "q131_topk_per_group" -> (Queries.q131 _),
    "q132_collocations" -> (Queries.q132 _),
    "q133_sampled_quantiles" -> (Queries.q133 _),
    "q134_canonical_dedup" -> (Queries.q134 _),
    "q135_ppjoin" -> (Queries.q135 _),
    "q136_orc_roundtrip" -> (Queries.q136 _),
    "q137_embedding_centroids" -> (Queries.q137 _),
    "q138_entity_resolution" -> (Queries.q138 _),
    "q139_bpe_training" -> (Queries.q139 _),
    "q142_repetition" -> (Queries.q142 _),
    "q143_quality_classifier" -> (Queries.q143 _),
    "q144_zone_map" -> (Queries.q144 _),
    "q146_incremental_lsh" -> (Queries.q146 _),
    "q147_domain_cap" -> (Queries.q147 _),
    "q149_containment" -> (Queries.q149 _),
    "q150_decayed_value" -> (Queries.q150 _),
    "q151_stream_decay" -> (Queries.q151 _),
    "q152_triangles" -> (Queries.q152 _),
    "q153_golden_record" -> (Queries.q153 _),
    "q154_widened_read" -> (Queries.q154 _),
    "q155_replica_audit" -> (Queries.q155 _),
    "q156_label_screen" -> (Queries.q156 _),
    "q157_dimension_stats" -> (Queries.q157 _),
    "q158_histogram" -> (Queries.q158 _),
    "q159_balanced_sample" -> (Queries.q159 _),
    "q160_shard_manifest" -> (Queries.q160 _),
    "q162_stream_lsh_dedup" -> (Queries.q162 _),
    "q164_stream_vector_index" -> (Queries.q164 _),
    "q167_classifier_training" -> (Queries.q167 _),
    "q168_crosscorpus_lsh" -> (Queries.q168 _),
    "q169_stream_sketch_mv" -> (Queries.q169 _),
    "q170_mixture_upsample" -> (Queries.q170 _),
    "q173_retention_sweep" -> (Queries.q173 _),
    "q174_dataset_card" -> (Queries.q174 _),
    "q175_warc_ingest" -> (Queries.q175 _),
    "q176_line_dedup" -> (Queries.q176 _),
    "q177_avro_roundtrip" -> (Queries.q177 _),
    "q178_html_text" -> (Queries.q178 _),
    "q179_html_links" -> (Queries.q179 _),
    "q180_epoch_shuffle" -> (Queries.q180 _),
    "q181_crawl_corpus" -> (Queries.q181 _),
    "q183_span_corruption" -> (Queries.q183 _),
    "q184_packed_sequences" -> (Queries.q184 _),
    "q185_importance_sample" -> (Queries.q185 _),
    "q186_k_anonymity" -> (Queries.q186 _),
    "q187_jsonl_ingest" -> (Queries.q187 _),
    "q188_label_vote" -> (Queries.q188 _),
    "q189_annotator_audit" -> (Queries.q189 _),
    "q190_distribution_drift" -> (Queries.q190 _),
    "q191_xml_ingest" -> (Queries.q191 _),
    "q192_bloom_index" -> (Queries.q192 _),
    "q193_warc_charset" -> (Queries.q193 _),
    "q194_dawid_skene" -> (Queries.q194 _),
    "q195_delta_roundtrip" -> (Queries.q195 _),
    "q196_label_screen_ivf" -> (Queries.q196 _),
    "q197_ann_pq_rerank" -> (Queries.q197 _),
    "q198_covariance" -> (Queries.q198 _),
    "q199_covariance_fold" -> (Queries.q199 _),
    "q73_group_minhash" -> (Queries.q73 _),
    "q74_stream_sessions" -> (Queries.q74 _),
    "q75_crypto_roundtrip" -> (Queries.q75 _),
    "q76_salted_join" -> (Queries.q76 _),
    "q77_paged_ingest" -> (Queries.q77 _),
    "q78_decontamination" -> (Queries.q78 _),
    "q79_stream_delta" -> (Queries.q79 _),
    "q80_scd2_partitioned" -> (Queries.q80 _),
    "q81_chunking" -> (Queries.q81 _),
    "q82_returned_items" -> (Queries.q82 _),
    "q83_volume_shipping" -> (Queries.q83 _),
    "q84_disjunctive_pred" -> (Queries.q84 _)
  ) ++ staged.map { case (name, st) => name -> st.fused }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on the
    * same parquet tables. As of round 3 every query key has an oracle entry.
    */
  def oracleSql: Map[String, String] = Oracles.all
}
