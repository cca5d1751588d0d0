package graft

/** Plan-shape regression guard: the scale contract, machine-checked.
  *
  * Two blanket rules over every declared batch query's physical plan,
  * plus pinned per-query shuffle budgets:
  *
  *  1. NO nested-loop/cartesian join anywhere — except the documented
  *     exact-scan similarity family, whose BroadcastNestedLoopJoin
  *     streams the corpus ONCE against a broadcast (small by
  *     construction) query set: linear in the corpus, the whole point
  *     of the brute-force baseline.
  *  2. Exchange count must not exceed the audited budget. A new
  *     Exchange in q1_agg or win_session is a scale regression the
  *     correctness oracle cannot see — this spec makes it fail loudly.
  *
  * Budgets are the audited values at sf0.001 / local[4] / 4 shuffle
  * partitions (plan shape, not data, is what's pinned). Streaming
  * queries are excluded (they execute on construction and their state
  * exchanges are AQE-disabled anyway).
  */
class PlanSpec extends SparkSpec {

  // exact-scan similarity: justified broadcast NLJ (see scaladoc);
  // join_cross: a deliberate 25×5 cartesian of two tiny dimensions —
  // the one shape where a cross join IS the right plan;
  // text_tfidf/text_bm25: crossJoin(broadcast(1-row corpus stats)) —
  // a scalar broadcast, the same plan a scalar subquery produces
  // zorder_value: crossJoin(broadcast(1-row min/max extents)) — the
  // same scalar-broadcast shape as tfidf/bm25
  // sketch_cms: crossJoin(broadcast(1-row CMS)) — the same scalar
  // broadcast shape as tfidf/bm25/zorder
  // mixture_weights: crossJoin(broadcast(1-row corpus totals)) — the
  // same scalar-broadcast shape as tfidf/bm25/zorder/cms
  // orders_rfm: crossJoin(broadcast(1-row max date)) — the scalar
  // broadcast shape again
  private val nljWhitelist =
    // knn_classify: same exact-scan shape as sim_knn (labeled corpus
    // streams once against the broadcast query set).
    // sim_knn/sim_range are whitelisted BY CONTRACT, not oversight:
    // exact kNN is O(|Q|·N) by definition and exists as the recall
    // oracle for the sim_ann_* family — its scaladoc
    // (Similarity.simKnn) forbids production corpus-vs-corpus use
    // ann_recall: the recall audit composes sim_knn's exact scan (the
    // baseline side) — same bounded-query-set contract
    // dedup_embedding_recall: exact side = 30-probe broadcast NLJ over
    // the corpus scan (the sim_knn exact-scan contract; the LSH side
    // it audits is all equi-joins)
    // emb_matryoshka: the same 30-probe broadcast exact-scan contract
    // as sim_knn — it IS the truncation-loss gauge for that family
    Set("sim_knn", "sim_range", "knn_classify", "ann_recall",
      "dedup_embedding_recall", "emb_matryoshka",
      "join_cross", "text_tfidf", "text_bm25",
      "zorder_value", "sketch_cms", "mixture_weights", "sample_weighted",
      "expect_drift", "orders_rfm", "source_divergence", "agg_hll_union",
      // sketch_theta: crossJoin(broadcast(1-row sketch estimates))
      "sketch_theta",
      // q22: crossJoin(broadcast(1-row positive-balance totals))
      "q22_idle_rich",
      // q11: crossJoin(broadcast(1-row national total)) — the same
      // scalar-broadcast shape, with an inequality residual
      "q11_stock_value",
      // text_inverted: crossJoin(broadcast(1-row corpus doc count))
      // gating the relative df cap
      "text_inverted",
      // stats_ks: crossJoin(broadcast(1-row sample totals)) — the
      // scalar-broadcast shape again
      "stats_ks",
      // round-6: the same 1-row/bounded scalar-broadcast crossJoin
      // shape — stats_chi2 (cell-domain marginal cross product + total
      // + dof scalars), events_cooccur (n_users scalar),
      // privacy_tcloseness (global sensitive distribution, 1 row),
      // sample_balanced (min-class scalar)
      "stats_chi2", "events_cooccur", "privacy_tcloseness",
      "sample_balanced",
      // scd_asof: crossJoin(broadcast(1-row exact-midpoint probe))
      "scd_asof",
      // text_pair_lift: crossJoin(broadcast(1-row n_docs scalar))
      "text_pair_lift",
      // stats_runs: crossJoin(broadcast(1-row series median))
      "stats_runs",
      // stats_kruskal: crossJoin(broadcast(1-row pooled n/ties scalars))
      // over the bounded k-group table
      "stats_kruskal",
      // dsir_select: crossJoin(broadcast(1-row corpus token totals))
      // inside the 256-row bucket-rate model table
      "dsir_select",
      // token_budget: crossJoin(broadcast(1-row corpus token total))
      // over the bounded per-source rollup
      "token_budget",
      // mixture_temperature: crossJoin(broadcast(1-row Σ√n/Σn scalars))
      // over the bounded per-source table
      "mixture_temperature",
      // expect_suite_agg: the aggregate-tier gate stitches each
      // 1-row violation scalar onto the row-wise counts —
      // crossJoin(broadcast(1-row agg)) per aggregate expectation
      "expect_suite_agg",
      // corpus_build: the 8-row ledger crossJoins PAIRS of 1-row
      // count scalars over the checkpointed stage id-sets;
      // corpus_build_mix: crossJoin(broadcast(1-row Σ√n/Σn scalars))
      // over the bounded per-source table (mixture_temperature shape)
      "corpus_build", "corpus_build_mix",
      // corpus_datasheet: crossJoin(broadcast(1-row Σ√n/Σn scalars))
      // over the bounded per-source table (the corpus_build_mix shape)
      "corpus_datasheet",
      // corpus_build_incremental / corpus_incr_equiv: the ledger/
      // receipt shape — crossJoins of PAIRS of 1-row count scalars
      // over the checkpointed stage id-sets (the corpus_build shape)
      "corpus_build_incremental", "corpus_incr_equiv",
      // corpus_build_computed / corpus_incr_equiv_computed (r16): the
      // same ledger/receipt shape — crossJoins of PAIRS of 1-row count
      // scalars over checkpointed stage id-sets; the computed screen's
      // embed pass and its eval broadcast run eagerly at build/
      // checkpoint time
      "corpus_build_computed", "corpus_incr_equiv_computed",
      // mixture_optimize / mixture_opt_rounds / mixture_sample:
      // crossJoin(broadcast(1-row free-mass/dust/normalizer scalars))
      // over the bounded source table (the mixture_temperature shape;
      // rounds ride checkpointed domain-sized frames)
      "mixture_optimize", "mixture_opt_rounds", "mixture_sample",
      // bpe_vocab_curve: crossJoins of PAIRS of 1-row token-count
      // scalars over the checkpointed round tables (the ledger shape)
      "bpe_vocab_curve",
      // curriculum_order: crossJoin(broadcast(1-row corpus-total
      // scalar)) feeding the vocab-sized bits table;
      // shard_export_curriculum composes it with the pack-count scalar
      // (bucket arithmetic + the Sizing shard derivation)
      "curriculum_order", "shard_export_curriculum",
      // shard_export / shard_export_incremental: crossJoin(broadcast(
      // 1-row derived shard count)) — the Sizing.numShards scalar
      // spelled in-plan so the pack rollup stays lazily shared
      // (ReusedExchange) between the shard and root branches
      "shard_export", "shard_export_incremental",
      // bpe_unigram: crossJoin(broadcast(1-row total-usage scalar))
      // over the bounded piece table; unigram_rounds: per-round
      // crossJoins of PAIRS of 1-row aggregates (the ledger shape)
      "bpe_unigram", "unigram_rounds",
      // contamination_semantic(_recall): the corpus streams ONCE
      // against the broadcast bounded eval slice (vec_id < 25 of the
      // planted corpus) — the sim_knn exact-scan contract; the recall
      // query's LSH side is all equi-joins
      "contamination_semantic", "contamination_semantic_recall",
      // DocEmbed family (r15): the computed screen streams the corpus
      // ONCE against the broadcast bounded eval slice (doc_id < 25 of
      // the computed embeddings — the contamination_semantic exact-
      // scan contract), and embedOf crossJoins two 1-row scalars
      // (doc count for IDF, the recall counts); the recall receipt
      // composes the computed screen with the supplied vecsOf screen
      // (the same broadcast-eval shape)
      "doc_embed", "contamination_semantic_computed", "doc_embed_recall",
      // dedup_semantic_computed(+_recall): the cold-audited embed
      // chain crossJoins the 1-row doc-count scalar; the recall audit
      // broadcasts the FIXED probe set (ids mod 10000000 < 50 — the
      // dedup_embedding_recall sampled-audit contract) against one
      // corpus scan
      "dedup_semantic_computed", "dedup_semantic_computed_recall")

  /** Audited max Exchange-hashpartitioning count per query. */
  private val exchangeBudget: Map[String, Int] = Map(
    // round-7 wave 2 —
    // dedup_semantic: cell-candidate equi-join + per-vec witness agg
    // (the assignment itself is a shuffle-free literal-centroid argmax);
    // dedup_keep_best: rides dedup_clusters' checkpointed id table, +1
    // for the quality join/window on cluster_id;
    // dsir_select: token explode→bucket agg (1), per-doc score agg (1),
    // bucket-rate model join (1) — the rates table itself is broadcast;
    // quality_classifier: scan-only codegen'd fold, zero exchanges
    "dedup_semantic" -> 2, "dedup_keep_best" -> 1,
    "dsir_select" -> 3, "quality_classifier" -> 0,
    // corpus_build (r13): the ledger itself is 16 scalar counts over
    // the checkpointed stage id-sets (zero hash exchanges — the stage
    // work runs eagerly at build time, the dedup_clusters precedent);
    // corpus_build_docs: survivor semi-join + the per-source packing
    // window share one source exchange (+AQE may fuse the PII join);
    // corpus_build_mix: survivor→source rollup + the bounded-source
    // running-Σ√n window
    "corpus_build" -> 0, "corpus_build_docs" -> 2,
    "corpus_build_mix" -> 3,
    // corpus_datasheet (r14): the survivor slice joins its scrubbed
    // token price, license tag and classifier margin on doc_id, then
    // rolls to the bounded source domain (modal-license window + the
    // running-Σ√n window ride the same source exchange); ids and
    // bounded tags on the wire, text never shuffles
    "corpus_datasheet" -> 4,
    // corpus_manifest (r14): the (source, pack) rollup over the
    // release tail + the root fold — fingerprints on the wire, one
    // bounded-key exchange each
    "corpus_manifest" -> 2,
    // mixture_sample (r14): the gopher-gated doc scan joins the
    // broadcast threshold table, then the bounded source rollup (+ the
    // memoized cascade's domain frames)
    "mixture_sample" -> 2,
    // curriculum_order (r14): the scrubbed-release word agg + the
    // vocab-sized bits join + per-doc and per-pack rollups, PLUS the
    // un-checkpointed corpusBuildDocs tail it re-derives (PII join +
    // packing window) and globalRowNumber's local-rank machinery —
    // words/ids on the wire, text never shuffles
    "curriculum_order" -> 13,
    // bpe_unigram (r13): final-usage piece rollup (1) read by both the
    // model and total branches + the alphabet distinct + model join on
    // the bounded piece key — all vocab/model-sized, corpus-free (the
    // corpus scan lives in the checkpointed training tables);
    // unigram_rounds: per-round usage explode + distinct (piece
    // domain) — bounded by model size
    "bpe_unigram" -> 4, "unigram_rounds" -> 3,
    // contamination_semantic: the per-train-vector argmax window keys
    // on vec_id (1); the eval side is broadcast; _recall adds the LSH
    // candidate distinct — all id/bucket-keyed, never vectors
    "contamination_semantic" -> 1, "contamination_semantic_recall" -> 2,
    // r15 wave —
    // doc_embed: token→bucket agg, bucket-df agg, 1-row doc count and
    // the doc-keyed 64-sum projection rollup + their joins — all
    // id/bucket-keyed, text never shuffles past the first aggregation
    // (the projection is 64 SUM columns, not a (doc,k) row explosion)
    "doc_embed" -> 6,
    // contamination_semantic_computed: audited COLD (first of its
    // family in the sorted sweep) — the embed chain appears twice in
    // the plan string (the persisted embedding frame is referenced by
    // the eval and train branches, and InMemoryRelation repeats its
    // child) + the per-doc argmax window; all id/bucket-keyed
    "contamination_semantic_computed" -> 19,
    // doc_embed_recall: audited memo-WARM (the screen built the flag
    // checkpoint earlier in the sorted sweep) — the supplied vecsOf
    // screen's distinct + the per-doc argmax window
    "doc_embed_recall" -> 2,
    // doc_embed_coverage: ONE source rollup after the id-keyed
    // embeddings lookup
    "doc_embed_coverage" -> 1,
    // corpus_diff: the tagged union joins the checkpointed stage
    // id-sets to base on bare ids and rolls up (source, status)
    "corpus_diff" -> 1,
    // shard_export_incremental: TWO release tails (scrub join + the
    // per-source pack window each) + two pack/shard rollups + the
    // 16-row shard diff join — all id/source/shard-keyed
    "shard_export_incremental" -> 12,
    // multimodal_interleaved: the bounded slot explode joins the
    // scored pair table on pair_id and rolls up per doc — rides the
    // align decode pass, one narrow shuffle on top
    "multimodal_interleaved" -> 1,
    // shard_export: pack rollup, shard rollup and the root fold over
    // the pack-table-sized frame (corpus/512 rows); the pack-rollup
    // chain prints THREE times (shard branch, root branch, and the
    // 1-row derived-shard-count scalar, r16) but materializes once —
    // identical shuffle subtrees share one stage under AQE exchange
    // reuse
    "shard_export" -> 6,
    // shard_export_curriculum: the full curriculum_order chain (13) +
    // the pack-fp rollup + the (source, pack) reconcile join + the
    // (shard, bucket) segment rollup — all pack-table-keyed
    "shard_export_curriculum" -> 18,
    // dedup_semantic_computed: audited COLD (first of the pair in the
    // sorted sweep) — the embed chain + sign-band self-join + rerank
    // id-joins + the first-arrival witness agg, all id/bucket-keyed
    "dedup_semantic_computed" -> 15,
    // dedup_semantic_computed_recall: audited memo-WARM — the banded
    // pipeline over the checkpointed coded frame + the probe audit
    "dedup_semantic_computed_recall" -> 9,
    // license_mix: the bounded (source × license) rollup + its
    // within-source share window (text_license itself is scan-only)
    "license_mix" -> 2,
    // multimodal_align: ONE id-keyed join pairing the decoded image
    // fingerprints with the caption-bit side (both map passes)
    "multimodal_align" -> 2,
    // tokenizer_fertility: two corpus→(source, word) pricing aggs (one
    // per tokenizer), their vocab-keyed price joins, and the bounded
    // per-source rollups — words/ids on the wire, never text
    "tokenizer_fertility" -> 5,
    // expect_suite_agg: one groupBy(column) pass per uniqueness check
    // (2) + the countDistinct pass for the proportion check (1); the
    // row-wise tier and the scalar stitches are exchange-free
    "expect_suite_agg" -> 3,
    // round-7 wave 3 —
    // token_budget: bpe_encode's pricing shape rolled to source — the
    // static plan re-counts the BPE training table's (w, pos) windows
    // (4 exchanges, vocab-sized data) + the word-explode agg and the
    // source rollup; the 1-row corpus total is broadcast;
    // ann_negatives: sim_ann_ivf's probe/rerank budget (the label join
    // broadcasts at test SF, shuffles on vec_id at scale)
    "token_budget" -> 6, "ann_negatives" -> 2,
    // round-7 wave 4 —
    // lang_confusion: one scan-side prediction + the bounded
    // lang×pred-domain agg; mixture_temperature: corpus→source agg (1)
    // consumed by both the per-source branch and the scalar-totals
    // branch (the static plan repeats it pre-AQE-reuse: 2), then a
    // bounded-domain running window + scalar broadcast
    "lang_confusion" -> 1, "mixture_temperature" -> 2,
    // span_corruption: pure per-row expression work, map-only
    "span_corruption" -> 0,
    // ann_recall: sim_knn (1) + sim_ann_ivf (2) + the audit
    // join (2: both sides hash on (qid, nid)) + the per-qid agg
    "ann_recall" -> 6,
    // sql_script: the BEGIN…END body executes at spark.sql() time; the
    // returned frame is the final 1-row variable projection
    "sql_script" -> 0,
    "agg_arg_extrema" -> 1, "agg_count" -> 0, "agg_cube" -> 1,
    "agg_distinct" -> 2, "agg_group" -> 2, "agg_grouping_sets" -> 1,
    "agg_pivot" -> 2, "agg_quantile" -> 1, "agg_rollup" -> 1,
    "agg_salted" -> 2, "agg_unpivot" -> 0, "array_funcs" -> 0,
    "clean_nan_null" -> 1,
    "avro_roundtrip" -> 1,
    // avro_functions / proto_functions: map-only encode/decode
    // expressions + ONE grouped rollup — the single hashpartitioning
    // is the event_type agg
    "avro_functions" -> 1,
    "proto_functions" -> 1,
    // round-10 wave —
    // url_canon_dedup: the ONE canonical-key grouping exchange;
    // str_collation: the ONE collated-key grouping exchange (the
    // collation must not add a second normalization pass). The other
    // r10 queries (warc_parse, text_html_extract, binary_codecs,
    // multimodal_mjpeg) are map-only at budget 0. CAVEAT
    // observe_metrics: its constructor RUNS the observed noop write
    // eagerly, so the frame this sweep audits is the one-row result
    // literal (like the streaming set) and its budget-0 entry is
    // vacuous — the REAL observed pass is audited separately in
    // "observe() rides the valid split without adding exchanges".
    "url_canon_dedup" -> 1,
    "str_collation" -> 1,
    // url_domain_cap: ONE exchange on the registered domain — the
    // per-domain rank window hashes on rd and the rollup reuses that
    // partitioning (a second exchange here means the agg re-shuffled)
    "url_domain_cap" -> 1,
    // dedup_embedding (r11 production spelling): the (band, bucket)
    // candidate join + pair distinct land in ONE hash exchange at test
    // SF (AQE broadcasts the rerank joins); the recall gate adds the
    // exact/found audit join over the same pipeline
    "dedup_embedding_recall" -> 2,
    "csv_roundtrip" -> 1, "dedup_embedding" -> 1, "dedup_exact" -> 1,
    "dedup_minhash" -> 3, "dedup_ngram" -> 15, "dedup_simhash" -> 0,
    // split_leakage (r14): dedup_minhash's pair budget + the split
    // lookup joins on bare ids (text never moves) — the 3×3 rollup
    // itself rides the pair exchange
    "split_leakage" -> 4,
    "dedup_simhash64" -> 0, "dedup_simhash_pairs" -> 1, "expect_suite" -> 0,
    // expect_suite_json: the JSON-loaded twin of expect_suite — same
    // single-pass global agg, hashpartitioning-free plan
    "expect_suite_json" -> 0,
    // expect_suite_mostly: the mostly tier rides the SAME single-pass
    // agg (one extra count column + literal ppm comparisons) — any
    // exchange appearing here means the fractional gate stopped being
    // a one-job scan
    "expect_suite_mostly" -> 0,
    // emb_prune_stats: one (band,bucket) occupancy exchange + the
    // per-band rollup (the vectors() round-robin spread is not a hash
    // exchange)
    "emb_prune_stats" -> 2,
    "expect_suite_sample" -> 0, "freq_items" -> 0, "gen_explode" -> 1,
    "join_anti" -> 0, "join_asof" -> 1, "join_broadcast" -> 1,
    "join_inner" -> 1, "join_left" -> 1, "join_range" -> 0,
    "join_semi" -> 1, "json_parse_array" -> 1, "json_parse_struct" -> 0,
    "json_roundtrip" -> 1, "lang_id" -> 0, "limit_n" -> 0,
    "lineage" -> 0, "multimodal_features" -> 0, "multimodal_stub" -> 0,
    "nested_access" -> 0, "orc_roundtrip" -> 1, "pred_between" -> 0,
    "pred_conj" -> 0, "pred_isin" -> 1, "pred_null" -> 0,
    "proj_distinct" -> 1, "project_nested_star" -> 0, "q1_agg" -> 1,
    "reasons_array" -> 1, "set_except" -> 1, "set_intersect" -> 1,
    "set_union_by_name" -> 2, "sim_ann_ivf" -> 2, "sim_knn" -> 1,
    "sim_range" -> 0, "sort_topk" -> 0, "split_invalid" -> 0,
    "split_valid" -> 0, "str_format" -> 1, "str_funcs" -> 0,
    "subquery_scalar" -> 0, "text_bigrams" -> 1, "text_fingerprint" -> 0,
    "text_quality" -> 0, "text_rolling_hash" -> 0, "text_token_regex" -> 0,
    "text_tokens" -> 0, "text_top_term" -> 4, "ts_trunc" -> 1,
    "ts_tz_shift" -> 0, "warehouse_load" -> 0, "win_hourly" -> 1,
    "win_lag" -> 1, "win_latest" -> 1, "win_rank" -> 1,
    "win_session" -> 1, "win_sum" -> 1,
    // round-3 additions (audited at the same sf0.001/local[4] baseline)
    "agg_conditional" -> 1, "agg_string_agg" -> 1, "date_funcs" -> 0,
    "dedup_clusters" -> 0, "dedup_simhash64_pairs" -> 1, "explode_pos" -> 0,
    "dedup_phash" -> 1, "dedup_paragraphs" -> 2,
    "join_cross" -> 0, "join_full" -> 2, "sample_det" -> 0,
    "subquery_exists" -> 0, "training_select" -> 3, "ts_gapfill" -> 2,
    "win_range_frame" -> 1, "map_funcs" -> 2, "win_nth" -> 1,
    "pred_like" -> 0, "emb_quantize" -> 0, "emb_centroid" -> 2,
    "text_histogram" -> 1,
    // round-3 late batch (audited at the same baseline)
    // graph_triangles' 13 is the STATIC plan of three branches over the
    // persisted minhash pair table (3×minhash + 4 join exchanges); at
    // runtime the persist collapses the three branches into one
    // dedup_substring's 9 is the STATIC plan: the persisted sampled-
    // fingerprint table (2 exchanges: explode rollup + per-(doc,fp)
    // min) appears in the df-cap audit branch AND both self-join
    // sides; at runtime the persist collapses them into one pass, and
    // the remainder is the fp equi-join + the final pair rollup
    "dedup_substring" -> 9,
    // dedup_spans' 6: static plan repeats the persisted fingerprint
    // table (1 exchange) in the df-cap branch + both join sides, then
    // the island window partition + the two-level span rollup share
    // one (doc_a, doc_b, diag) exchange and one final pair exchange
    "dedup_spans" -> 6,
    // text_winnow: the one doc_id exchange feeds the frame-min window,
    // the whole-doc count, the selection distinct, the gap lag, and
    // the final per-doc rollup — all on the same partitioning
    "text_winnow" -> 1,
    // dedup_profile: dedup_spans' static 6 appears twice in the
    // per-doc union's branches (the persist collapses them at
    // runtime) + the per-doc rollup + final (source, severity) agg.
    // The join back to documents carries NO broadcast hint (r7: the
    // per-doc rollup is unbounded on duplicated corpora, so a forced
    // broadcast is a driver-killer at scale) — the static plan shuffles
    // the documents side (+1 vs r6's 14); at runtime AQE re-plans it
    // to a broadcast when the rollup measures small
    "dedup_profile" -> 15,
    // dedup_winnow: same static triple-appearance of the persisted
    // winnow selection (doc_id window exchange + per-(doc,fp) min) as
    // dedup_substring, + fp join sides + pair rollup
    "dedup_winnow" -> 9,
    // text_selfrep: per-(doc,fp) multiplicity exchange + per-doc rollup
    "text_selfrep" -> 2,
    // dedup_strip: the persisted fingerprint pass (×2 static branches)
    // + fp join + island window/rollup + covered-position distinct +
    // per-doc array build + the doc-keyed join back onto the scan
    "dedup_strip" -> 8,
    "text_chunk" -> 0, "dedup_chunks" -> 2, "contamination" -> 3,
    "text_repetition" -> 2, "sample_stratified" -> 1,
    "graph_triangles" -> 13, "agg_stats" -> 1, "pack_sequences" -> 1,
    "subquery_correlated" -> 2, "join_null_safe" -> 2,
    "agg_grouping_id" -> 1, "gen_explode_outer" -> 1,
    "topk_per_key" -> 1,
    // minhash_jaccard_est's 12 is the static plan of the persisted
    // sig/shingle tables' consumers (like graph_triangles above)
    "events_funnel" -> 1, "text_normalize" -> 0, "minhash_jaccard_est" -> 12,
    "emb_clusters" -> 0, "json_get" -> 0, "hof_funcs" -> 0,
    // q3/q5: all joins broadcast at audit SF; the one exchange is the
    // final group-by aggregation shuffle
    "text_lm_score" -> 3, "q3_topk" -> 1, "q5_local" -> 1,
    // tfidf/bm25 count the df branch's recompute of the tf agg (static
    // plan, like graph_triangles); vocab's 1 is the token count agg —
    // the global row_number window sees only the topK survivors
    "text_tfidf" -> 4, "text_bm25" -> 4, "vocab_topk" -> 1,
    // continuation batch: anomaly = one stats agg + broadcast join;
    // retention = distinct + cohort agg + join + distinct-count rollup;
    // pagerank/clusters return checkpointed RDDs (0 static exchanges);
    // graph_degree recomputes the unpersisted minhash branch twice in
    // the STATIC plan (runtime persist collapses it, like triangles)
    "anomaly_zscore" -> 1, "events_retention" -> 4, "text_entropy" -> 2,
    "multimodal_frames" -> 0, "emb_dim_stats" -> 1, "graph_pagerank" -> 0,
    "graph_degree" -> 8,
    "win_sliding" -> 1, "scd_intervals" -> 1, "zorder_value" -> 0,
    "source_quality" -> 2,
    // round-4 additions: pii_scrub is a pure projection; dedup_edit =
    // the minhash candidate plan (3) — both prefix rejoins broadcast at
    // audit SF; cdc_diff = one co-partitioned full-outer join (2);
    // cdc_apply replays the diff's exchanges + the anti-join sides
    "pii_scrub" -> 0, "dedup_edit" -> 3, "cdc_diff" -> 2,
    // sketch_cms: the exact-count groupBy (the sketch agg itself is a
    // scan + scalar combine); events_attribution: the one user_id
    // window shuffle
    "cdc_apply" -> 6, "sketch_cms" -> 1, "events_attribution" -> 1,
    // join_shuffle_hash: per-user agg + the hinted hash join's two
    // sides; win_median: the one event_type window shuffle
    "json_variant" -> 0, "join_shuffle_hash" -> 3, "win_median" -> 1,
    "lang_id_margin" -> 0, "gen_inline" -> 0, "part_prune" -> 1,
    // window-family completion: all share one user_id exchange;
    // win_distinct's two windows both partition by user_id only — the
    // spelling exists to keep it at ONE exchange (two sorts)
    "win_ntile" -> 1, "win_lead" -> 1, "win_distinct" -> 1,
    "win_ratio" -> 1, "win_session_native" -> 1,
    // agg_mode: (user,type) count exchange + user window exchange
    "agg_mode" -> 2, "agg_bitwise" -> 1,
    // q6: pure scan + single-row reduce — zero hash exchanges
    "q6_filter" -> 0,
    // round-5 label-curation family: knn_classify = one qid exchange
    // shared by the rank window and the vote rollup (broadcast NLJ adds
    // none); emb_confusion = the (label, pred) rollup (classification
    // is a scan-side literal argmax); emb_outliers = the per-label rank
    // window (own-centroid lookup broadcasts)
    "knn_classify" -> 1, "emb_confusion" -> 1, "emb_outliers" -> 1,
    // events_streaks: (user, day) distinct + the per-user island window
    // (the two grouped rollups reuse the window's user_id partitioning);
    // privacy_ldiversity: kanon's 2 QID aggs + countDistinct's expand
    "events_streaks" -> 2, "privacy_ldiversity" -> 3,
    // ts_interp: hourly agg + one event_type exchange shared by the
    // grid branch, the co-partitioned fill join, and both frames
    "ts_interp" -> 2,
    // anomaly_mad: three tiny percentile/count aggs (median, MAD,
    // fence count) — the stat sides broadcast back over the scan
    "anomaly_mad" -> 3,
    // dedup_source_matrix: the persisted minhash pair plan (3, as
    // dedup_edit) + the source×source rollup; source lookups broadcast
    // at audit SF
    "dedup_source_matrix" -> 4,
    // source_kafka_shaped: the per-partition geometry rollup
    "source_kafka_shaped" -> 1,
    // q18: the lineitem HAVING agg; orders/customer broadcast at audit SF
    "q18_having" -> 1,
    // join_salted: dim explodes broadcast-side; fact never shuffles for
    // the join — the exchanges are the final segment rollup
    "join_salted" -> 2,
    // DSv2 connector: the one exchange is the bucket rollup
    "source_dsv2" -> 1,
    // text_oov: vocab build (token agg + top-k) + per-doc rollup; the
    // vocab join itself broadcasts. text_ttr: countDistinct expands to
    // a two-level agg over (doc, token)
    "text_oov" -> 4, "text_ttr" -> 2,
    // sql_text: grouped agg + the global ranking window (top-50);
    // *_all: INTERSECT/EXCEPT ALL plan as co-partitioned joins; agg_ols
    // is one moment-sum shuffle
    "sql_text" -> 2, "set_intersect_all" -> 2, "set_except_all" -> 2,
    "agg_ols" -> 1,
    // expect_fk: three FK checks, each a distinct (1) + join shuffle
    // pair at audit SF where the parent set exceeds broadcast
    "expect_fk" -> 6,
    // expect_unique: one groupBy per declared key (4 tables)
    "expect_unique" -> 4, "try_funcs" -> 0,
    // typed_agg: the one groupByKey exchange
    "typed_agg" -> 1,
    // graph_bfs returns a union of localCheckpoint'ed hop results
    // (0 static exchanges — the loop's work happened eagerly)
    "graph_bfs" -> 0,
    // mixture_weights: per-lang agg + its recompute under the totals
    // branch (static plan; tiny either way)
    "mixture_weights" -> 4,
    // two window specs over the same user_id partition: one exchange,
    // two sorts
    "win_null_order" -> 1,
    // join_lateral decorrelates to rank-window + join; the typed
    // Aggregator plans partial+final around one exchange
    "join_lateral" -> 2, "set_union_distinct" -> 1,
    "typed_aggregator" -> 1,
    // the custom as-of exec: one explicit co-partitioning exchange per
    // side (its whole point is that nothing else shuffles)
    "join_asof_native" -> 2,
    // scalar families are pure projections; the multi-agg pivot is
    // still one grouped aggregation
    "agg_pivot_multi" -> 2, "hash_funcs" -> 0, "bit_scalar" -> 0,
    "math_funcs" -> 0,
    // incremental dedup: the minhash candidate plan (3) + corpus-fp
    // distinct + the two anti-join sides at audit SF
    "dedup_incremental" -> 9,
    // source_top_terms: (source, token) count agg + the custom TopK's
    // single final exchange; rolling_dau: distinct + semi + 2-phase
    // distinct-count
    "source_top_terms" -> 2, "events_rolling_dau" -> 5,
    // sample_weighted recomputes the per-lang/totals aggs in its
    // static plan (scalar-broadcast shape, like mixture_weights)
    "sample_weighted" -> 4,
    // expect_drift: halves pivot agg + its recompute under the totals
    // branch (scalar-broadcast shape ×2)
    "expect_drift" -> 6,
    // q14: part broadcasts at audit SF; zero hash exchanges beyond the
    // single-row reduce
    "q14_promo" -> 0,
    // bounce composes on winSession's one user_id exchange; norm hist
    // adds its bucket rollup to the corpus repartition
    "events_bounce" -> 1, "emb_norm_hist" -> 2,
    // catalog-resolved scan: customer broadcasts at audit SF; the one
    // exchange is the segment rollup
    "catalog_sql" -> 1,
    // mixed exact-distinct + HLL sketch agg expands to a two-level plan
    "agg_hll" -> 2,
    // LSH ANN: candidate-pair distinct + the nid vector rejoin's two
    // sides + the per-query rank window (query side broadcasts)
    "sim_ann_lsh" -> 4,
    // PQ: assignment is a scan-side argmin expression; the one
    // exchange is the per-vector code rollup
    "emb_pq" -> 1,
    // sketch branch's event_type agg + the verdict rollup (the sketch
    // side rejoins broadcast)
    "agg_approx_quantile" -> 3,
    // one user_id group-size shuffle; the stats finish is a single-row
    // reduce
    "skew_stats" -> 1,
    // IVF-PQ: assignment/codes/ADC are scan-side expressions; the two
    // exchanges are the probe-list window (50·nlist rows, trivial) and
    // the per-query rank window
    "sim_ann_ivfpq" -> 2,
    // forward as-of: the one user_id timeline shuffle, like join_asof
    "join_asof_fwd" -> 1,
    // health report: distinct-fp expand agg + per-(source,lang) count +
    // its argmax window + the tiny source join
    "curation_report" -> 5,
    // catalog function: pure scan-side projection
    "catalog_function" -> 0,
    // markov: one user_id lead window + the tiny (from,to) agg + its
    // from_type normalization window
    "events_markov" -> 3,
    // rfm: per-customer agg + the max-date branch's recompute (scalar
    // broadcast shape)
    "orders_rfm" -> 2,
    // schema gate: a 1-row driver-side stack projection
    "expect_schema" -> 0,
    // q10: dims broadcast at audit SF; the one exchange is the grouped
    // agg (TakeOrdered needs no global sort exchange)
    "q10_returns" -> 1,
    // pattern: both leads share the one user_id window
    "events_pattern" -> 1,
    // divergence: (source,tok) agg + source-total window + global tok
    // agg (+ its recompute under the Q_g scalar branch) + the tok
    // join's two sides + final source rollup (scalars broadcast)
    "source_divergence" -> 7,
    // MoM: the monthly agg; the lag window runs over ~24 aggregated
    // rows in a single (non-hash) partition by design
    "ts_mom" -> 1,
    // two-pass central moments: the mean agg + the deviation agg (the
    // mean side rejoins broadcast)
    "agg_moments" -> 2,
    // IQR fences: the percentile agg + the fence-breaker count
    "events_anomaly_iqr" -> 2,
    // per-type sketch agg + the two-level exact-distinct expand (the
    // unioned 1-row sketch side broadcasts)
    "agg_hll_union" -> 3,
    // partition-local stride resize: no shuffle
    "multimodal_resize" -> 0,
    // theta set algebra: per-segment sketch agg + exact per-user flag
    // agg (both global finishes are single-partition, not hash)
    "sketch_theta" -> 2,
    // roundtrip family shape: the post-read group-by
    "xml_roundtrip" -> 1,
    // TPC-H expansion (audited at the same sf0.001/local[4] baseline):
    // q2 = offers agg + two-key rejoin + final part agg; q21 = two
    // distincts + semi/anti self-join sides + supplier rollup; the
    // 1-exchange rows are the final aggregation only (all dims
    // broadcast); q19's predicate evaluates scan-side, zero shuffles
    "q2_min_supplier" -> 4, "q4_priority" -> 1, "q7_volume" -> 1,
    "q8_share" -> 1, "q9_profit" -> 1, "q13_custdist" -> 2,
    "q15_top_supplier" -> 2, "q16_supplier_cnt" -> 2,
    "q17_small_qty" -> 2, "q19_disjunction" -> 0, "q21_waiting" -> 6,
    "q22_idle_rich" -> 1,
    // curation/ops batch: each is a scan + one rollup exchange (the
    // curriculum window runs single-partition over the tiny histogram)
    "text_blocklist" -> 1, "curriculum_buckets" -> 1,
    "ingest_badrecords" -> 1, "schema_evolution" -> 1,
    // bitmap distinct: the STATIC plan recomputes the per-bucket agg
    // under both rollup branches (2×) — runtime persist collapses
    // them (like graph_triangles); url_parse = host agg + distinct
    "agg_bitmap_distinct" -> 4, "agg_predicates" -> 1, "url_parse" -> 2,
    // SQL-surface batch: each is one rollup exchange (the recursive
    // spine is 79 driver-trivial rows; the join side broadcasts)
    "sql_recursive" -> 1, "sql_params" -> 1, "xml_scalar" -> 1,
    // q11: byPart agg (shared by the value and total branches) = 2
    // partkey exchanges in the static plan; q12: one band exchange;
    // q20: two (supp,part) pair-agg exchanges feed the semi join
    "q11_stock_value" -> 2, "q12_late_priority" -> 1,
    "q20_excess_shippers" -> 2,
    // BPE: training ran eagerly (checkpointed rounds); the declared
    // merges plan is 5 one-row winner branches, each a vocab-sized
    // lead-window (w) + pair agg; encode = wtc agg + (doc,word) agg +
    // the vocab join + final per-doc rollup
    "bpe_merges" -> 10, "bpe_encode" -> 5,
    // win_percentile: both relative-standing windows share one user_id
    // exchange; na_funcs is a pure scan-side projection
    "win_percentile" -> 1, "na_funcs" -> 0,
    // agg_corr: one moment-sum shuffle (the agg_ols shape + Σy²);
    // ts_resample: both rank windows and the bar aggregation share the
    // single (user, bucket) exchange — one shuffle for the whole bar
    "agg_corr" -> 1, "ts_resample" -> 1,
    // bpe_segment: the one vocab-count exchange; segmentation itself
    // is chained codegen'd HOF folds — scan-side, join-free
    "bpe_segment" -> 1,
    // bpe_bytes (r14): the bpe_merges shape over byte symbol tables —
    // 5 one-row winner branches, each a vocab-sized lead-window (w) +
    // pair agg; bpe_bytes_segment: the vocab agg read by the top-k
    // and multi-byte branches + their dedup — the greedy fold itself
    // is scan-side, join-free (the bpe_segment contract)
    "bpe_bytes" -> 10, "bpe_bytes_segment" -> 3,
    // dataset_split: countDistinct expands to a two-level agg over
    // (split, lang)
    "dataset_split" -> 2,
    // text_inverted: (doc, token) distinct + the token posting agg
    "text_inverted" -> 2,
    // session-7 batch: win_ewma = the one user_id window exchange;
    // stats_ks = bin agg + final (n1,n2) rollup (the cumulative window
    // runs single-partition over the BOUNDED bin domain by design);
    // agg_spearman = the supplier agg (rank windows run over ~100
    // aggregated rows); geo_grid/gen_ngrams = countDistinct two-level
    // expand; geo_nearest = the per-depot rollup (depot "dim" is
    // constant-folded scan-side, no join); privacy_kanon = QID-group
    // agg + event_type rollup
    // join_fuzzy: the candidate distinct (probe/variant sides broadcast
    // at audit SF)
    "join_fuzzy" -> 1,
    // ts_backlog: per-order close agg + delta-date agg (the orders
    // side broadcasts at audit SF; the cumulative window runs over the
    // bounded date domain, single-partition by design)
    "ts_backlog" -> 3,
    "win_ewma" -> 1, "stats_ks" -> 2,
    // stats_mannwhitney: stats_ks's shape minus the totals crossJoin —
    // ONE bin-domain agg exchange; the midrank window + final rollup
    // ride the bounded bin table on a single partition
    "stats_mannwhitney" -> 1,
    // text_stem: two-countDistinct expand over (source, w, stem) —
    // partial agg + the post-expand re-shuffle
    "text_stem" -> 2,
    // privacy_dp_counts: the one event_type count exchange; the noise
    // draw is per-row literal-array arithmetic on 5 rows
    "privacy_dp_counts" -> 1,
    // privacy_dp_release: the same single count exchange (the release
    // projection over the dp_counts plan)
    "privacy_dp_release" -> 1,
    // stats_kruskal: the raw scan feeds ONE (type × bin) agg (cached);
    // everything after — pooled bin totals, the midrank join, the
    // per-group rollup — shuffles only the bounded bin/type domain
    // (hundreds of rows at any SF); the static pre-AQE plan prints the
    // cached agg subtree under both consumers
    "stats_kruskal" -> 6,
    // dedup_cdc: (source, h) chunk-key agg (countDistinct plans the
    // two-phase partial + final) + the source rollup — every exchange
    // carries 32-byte hashes and counts, never chunk text
    "dedup_cdc" -> 3,
    // join_asof_nearest: BOTH directional carries ride the ONE user_id
    // exchange (two sorts, zero extra shuffles — the trio contract)
    "join_asof_nearest" -> 1,
    // text_rake: (source, word) stats agg + the score join back onto
    // the persisted phrase words + the (source, phrase) rollup + the
    // per-source top-5 window — token/phrase keys only, never docs
    "text_rake" -> 4,
    // privacy_dp_histogram: ONE (type × hour) count exchange; the
    // per-bin noise is literal-array arithmetic on ~120 rows
    "privacy_dp_histogram" -> 1,
    // emb_matryoshka: the scored table persists for the two top-10
    // rankings (2 qid window exchanges; the static plan prints the
    // cached scan under both) + the overlap join/agg — all post-scan
    // data is 30-probe-bounded
    "emb_matryoshka" -> 5,
    // agg_spearman (r8 distributed-rank rewrite): the supplier rollup
    // + a _pid window exchange per ranking branch + the rank rejoin on
    // l_suppkey; the static count is inflated by the persisted
    // subtrees' cached-plan text repeating their exchanges — the
    // RUNTIME plan reuses the InMemoryRelation
    "agg_spearman" -> 12,
    // anomaly_cusum: the one user_id window exchange; geo_join: cell
    // cover broadcasts, the exchange is the per-depot rollup
    "anomaly_cusum" -> 1, "geo_join" -> 1,
    "geo_grid" -> 2, "geo_nearest" -> 1, "privacy_kanon" -> 2,
    "gen_ngrams" -> 2,
    // round-6 additions (audited at the same baseline). The big STATIC
    // counts are cached-table plan-string multiplicity, same as
    // graph_triangles/dedup_substring above: the persisted cell/incid/
    // shingle tables repeat their upstream exchanges once per consumer
    // branch in the plan STRING; at runtime the persist collapses them
    // into one pass.
    // stats_chi2: the persisted (type,dow) cell rollup feeds rt/ct/tot/
    // dof branches (11 static, 1 runtime + tiny-table joins)
    "stats_chi2" -> 11,
    // events_cooccur: persisted incidences feed marginals + both
    // self-join sides + the n_users scalar (9 static)
    "events_cooccur" -> 9,
    // dedup_containment: identical candidate pipeline to dedup_ngram
    // (15 static — capped shingles in both join sides + sizes)
    "dedup_containment" -> 15,
    // events_forecast: hourly rollup + its two bucket-shifted join
    // branches (3 static, 1 runtime rollup)
    "events_forecast" -> 3,
    // privacy_tcloseness: QID-group agg + event_type rollup (the
    // 1-row global distribution broadcasts)
    "privacy_tcloseness" -> 2,
    // sample_balanced: per-label rank window + the min-class scalar agg
    "sample_balanced" -> 2,
    // text_hapax: (source,token) tf agg + per-source rollup
    "text_hapax" -> 2,
    // ts_seasonal: the one hourly rollup exchange (both window passes
    // run on the bounded series; hod repartition rides the same
    // exchange in the static plan)
    "ts_seasonal" -> 1,
    // agg_benford: the 9-cell digit rollup (the global-total window
    // runs on those 9 rows)
    "agg_benford" -> 1,
    // events_lag_features: the one user_id exchange every window
    // column shares
    "events_lag_features" -> 1,
    // expect_volume: the one daily-rollup exchange (the trailing
    // window runs on the bounded day series)
    "expect_volume" -> 1,
    // orders_cohort: custkey first-order agg + rejoin + the
    // countDistinct two-phase (cohort,age) rollup
    "orders_cohort" -> 3,
    // join_asof_tol: the same single user_id carry-forward exchange
    // as join_asof (tolerance is a row predicate after it)
    "join_asof_tol" -> 1,
    // scd_asof: the one user_id interval window exchange
    "scd_asof" -> 1,
    // sql_udf: the one grouped-agg exchange (the SQL-defined function
    // bodies inline into the scan projection — PlanSpec's point)
    "sql_udf" -> 1,
    // sql_udtf: the spine join's grouped rollup
    "sql_udtf" -> 1,
    // sql_pipe: the one grouped-agg exchange (pipe syntax compiles to
    // the identical plan as the nested spelling)
    "sql_pipe" -> 1,
    // orders_abc: partkey revenue agg + the 3-class rollup (both
    // ranking windows run on the bounded part dimension)
    // orders_abc (r8 distributed prefix-sum rewrite): part rollup +
    // the _pid window exchange + the class rollup; static count
    // repeats the persisted prefix subtree's text (runtime reuses it)
    "orders_abc" -> 5,
    // agg_gini: the one cents-histogram exchange (the cumulative pass
    // runs on the bounded distinct-value domain)
    "agg_gini" -> 1,
    // agg_winsorize: the percentile-band agg + the clamped-mean rollup
    "agg_winsorize" -> 2,
    // text_feature_hash: the one (doc, bucket) rollup
    "text_feature_hash" -> 1,
    // text_pair_lift: static multiplicity of the persisted capped
    // incidence table (vocab agg + top-50 sort feed the broadcast cap,
    // and the incidences appear in both self-join sides + marginals +
    // n_docs — the graph_triangles pattern); at runtime the persist
    // collapses them to one pass + the pair rollup
    "text_pair_lift" -> 14,
    // dedup_incremental_bloom: the corpus-fp distinct appears in the
    // scalar-subquery sketch, the residue anti-join, and both screen
    // branches (static multiplicity); at runtime the reused subquery
    // + one anti-join remain
    "dedup_incremental_bloom" -> 5,
    // expect_cardinality: the one multi-countDistinct expand agg
    "expect_cardinality" -> 1,
    // text_novelty: static multiplicity of the persisted shingle table
    // (both the owner agg and the join probe) + the per-doc rollup
    "text_novelty" -> 4,
    // text_heaps: the one expand + distinct aggregation pass
    "text_heaps" -> 1,
    // typed_cogroup: each side's user_id exchange feeding CoGroupExec
    "typed_cogroup" -> 2,
    // typed_sorted_groups: one user_id exchange; the ORDER rides the
    // shuffle sort (secondary sort), not a per-group in-memory sort
    "typed_sorted_groups" -> 1,
    // ts_autocorr: the hourly rollup appears on both sides of the +24
    // self-join in the static plan (2); the moment agg is map-side
    "ts_autocorr" -> 2,
    // win_drawdown: the one (user, time) exchange all three window
    // passes and the rollup share
    "win_drawdown" -> 1,
    // stats_anova: the one per-type sufficient-statistics exchange
    // (the ordered-window fold runs on the bounded type domain)
    "stats_anova" -> 1,
    // stats_levene: the median-band agg + the ANOVA sufficient-stats
    // pass over the transformed frame
    "stats_levene" -> 2,
    // analyze_stats: the one multi-countDistinct expand profiling pass
    "analyze_stats" -> 1,
    // win_rolling_corr: the one hourly-rollup exchange (the trailing
    // windows run on the bounded series)
    "win_rolling_corr" -> 1,
    // stats_runs: the hourly rollup + the final runs aggregation (the
    // sign/lag window runs on the bounded series)
    "stats_runs" -> 2,
    // stats_abtest: the one per-user conversion aggregation
    "stats_abtest" -> 1)

  test("part_prune pushes the date predicate to partition filters, not row filters") {
    val p = plans.toMap.apply("part_prune")
    assert(p.contains("PartitionFilters: [isnotnull(event_date"), p)
    assert(p.contains("(event_date") && p.contains(">= 2024-01-10"), p)
    // the predicate prunes directories; nothing is left to filter per row
    assert(p.contains("DataFilters: []"), p)
  }

  test("q6_filter pushes its predicates and column pruning into the parquet scan") {
    val p = plans.toMap.apply("q6_filter")
    // the explain string truncates the filter list at ~100 chars, so
    // pin the prefix: all three columns' IsNotNulls + the first range
    // bound made it into PushedFilters (DataFilters shows the same set)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "IsNotNull(l_discount), IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda"), p)
    // a 4-column query must not read the other 7 lineitem columns
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      readSchema)
    assert(readSchema.contains("l_discount"), readSchema)
  }

  test("join_shuffle_hash honors the SHUFFLE_HASH hint") {
    val p = plans.toMap.apply("join_shuffle_hash")
    assert(p.contains("ShuffledHashJoin"), p)
  }

  /** Each query's physical-plan string + analyzed-plan broadcast-hint
    * audit + partition-less-window audit, built ONCE for all tests
    * (the round-trip queries execute a file write when constructed).
    * Each query's frames are released at its boundary, as Verify does,
    * so the tracked-frame registry holds none of them afterwards. */
  private lazy val built: Seq[(String, String, Seq[String], Seq[String])] = {
    val b = SparkEntry.registry.toSeq.sortBy(_._1).collect {
      case (name, q) if !q.streaming =>
        val qe = q.build(spark, sfDir).queryExecution
        val hints = unboundedBroadcastHints(qe.analyzed)
        val gw = globalWindows(qe.executedPlan)
        val p = qe.executedPlan.toString
        graft.analytics.Caches.release()
        spark.catalog.clearCache()
        (name, p, hints, gw)
    }
    assert(graft.analytics.Caches.trackedCount == 0,
      "the audit loop must drain the tracked-frame registry")
    b
  }

  private lazy val plans: Seq[(String, String)] =
    built.map(t => (t._1, t._2))

  /** A Window with an EMPTY partitionSpec funnels the whole input
    * through ONE task — the classic global-ntile scale trap. It is
    * only acceptable when the windowed frame is already bounded
    * (domain-sized aggregates, histograms, digit tables …), which the
    * plan alone can't prove — so every site must be whitelisted per
    * query with the bound written down. */
  private def globalWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution._
    // AQE wraps the real plan in AdaptiveSparkPlanExec, which collect()
    // treats as a leaf — audit the inner (initial) plan
    val root = plan match {
      case a: adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    // a partition-less window whose input is already LIMITED (top-k
    // rank patterns plan TakeOrderedAndProject below the window) or a
    // 1-row aggregate is bounded by construction — same spine walk as
    // the broadcast-hint rule
    @annotation.tailrec
    def boundedInput(p: SparkPlan): Boolean = p match {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: LocalLimitExec => true
      case a: aggregate.BaseAggregateExec => a.groupingExpressions.isEmpty
      case _: GenerateExec | _: ExpandExec => false
      case u: UnaryExecNode => boundedInput(u.child)
      case _ => false
    }
    root.collect {
      case w: window.WindowExec
          if w.partitionSpec.isEmpty && !boundedInput(w.child) =>
        "Window: " + w.windowExpression.map(_.sql).mkString(",").take(80)
      case w: window.WindowGroupLimitExec
          if w.partitionSpec.isEmpty && !boundedInput(w.child) =>
        "WindowGroupLimit: " + w.rankLikeFunction.sql.take(80)
    }
  }

  // ---- forced-broadcast audit (the r6/r7 verdict class, as a test) --

  /** A broadcast HINT forces the shuffle-free plan regardless of size,
    * so it is only safe on tables bounded BY CONSTRUCTION — a table
    * that merely happens to be small at test scale (one row per
    * document, per fingerprint, per user…) OOMs every executor at
    * 100 TB. This walker flags every `broadcast()` site whose child is
    * not a recognizably bounded shape.
    *
    * Auto-recognized bounded shapes (size independent of the corpus):
    *  - a grouping-free Aggregate (exactly 1 row: corpus totals,
    *    min/max extents, sketch rollups);
    *  - a Limit anywhere on the spine (top-k vocab tables);
    *  - LocalRelation / OneRowRelation / Range (literal model tables).
    * Unary nodes that cannot grow row counts (Project/Filter/Sort/
    * Distinct/…) are transparent; Generate/Expand are NOT (an explode
    * over one row can be arbitrarily wide), nor are joins/unions.
    * Everything else must appear in `boundedHintWhitelist` with a
    * comment saying WHY the hinted table is bounded. */
  private def unboundedBroadcastHints(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @annotation.tailrec
    def bounded(p: LogicalPlan): Boolean = p match {
      case a: Aggregate => a.groupingExpressions.isEmpty
      case _: GlobalLimit | _: LocalLimit => true
      case _: LocalRelation | _: OneRowRelation | _: Range => true
      case _: Generate | _: Expand => false
      case u: UnaryNode => bounded(u.child)
      case _ => false
    }
    plan.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) &&
          !bounded(h.child) =>
        h.child.nodeName + ": " + h.child.simpleString(60)
    }
  }

  /** Queries whose broadcast hints are bounded for reasons the shape
    * walker cannot see. Every entry documents the bound. */
  private val boundedHintWhitelist: Set[String] = Set(
    // ---- bounded GROUP domain: the hinted table is a grouped
    // aggregate whose key domain is fixed by the data model (9 event
    // types / 3 return flags / ≤8 langs / 256 dsir buckets / ≤50
    // nullif-mod keys / bounded distinct-doc-length histogram) — row
    // count is domain-sized, corpus-independent
    "agg_approx_quantile", "agg_winsorize", "anomaly_mad",
    "anomaly_zscore", "agg_moments", "stats_levene",
    "events_anomaly_iqr", "events_cooccur", "sample_weighted",
    "dsir_select", "join_null_safe", "curriculum_buckets",
    // ---- bounded PROBE/EVAL set: the hinted side is filtered to the
    // fixed query workload (qid < 50) or the held-out eval corpus
    // (doc_id < 25) before the hint — workload-sized, not corpus-sized;
    // text_bm25's df table groups tokens already isin-filtered to the
    // 3 query terms
    "sim_knn", "sim_range", "sim_ann_ivf", "sim_ann_lsh",
    "sim_ann_ivfpq", "knn_classify", "ann_negatives", "ann_recall",
    "contamination", "text_bm25",
    // emb_matryoshka: the hinted side is the vec_id < 30 probe slice
    // (the sim_knn 30-probe contract); the walker sees only the
    // norm-carrying Project above the filter
    "emb_matryoshka",
    // contamination_semantic(_recall): the hinted side is the
    // vec_id < 25 eval slice of the planted corpus (a union the
    // walker cannot see through) — benchmark-sized by construction
    "contamination_semantic", "contamination_semantic_recall",
    // dedup_embedding_recall: the hinted side is the 30-row probe
    // sample (vec_id < EmbPlantBases over the planted corpus — a
    // union the shape walker cannot see through); exact side is
    // |probes|·N by the sampled-audit contract, same as ann_recall
    "dedup_embedding_recall",
    // mixture_sample: the hinted threshold table is the bounded
    // source-domain allocation (mixture_optimize's output — joins and
    // windows over ≤ tens of rows the walker cannot see through)
    "mixture_sample",
    // ---- top-k vocab marginals: built FROM the limit(topK) token
    // table (the walker sees only the post-join Project) — ≤ topK rows
    "text_pair_lift",
    // ---- fixed-cardinality dimensions: TPC-H nation (25) / region
    // (5); geo_join's 4-row literal depot table × 81 literal offsets
    "join_broadcast", "geo_join",
    // ---- DocEmbed family (r15): every hinted frame is bounded by
    // construction — the IDF weight table (grouped on the fixed
    // 1024-bucket domain), the eval text/embedding slices
    // (doc_id/vec_id < 25 before the hint), and vecsOf's eval base
    // table (vec_id < 25); the recall receipt composes two such
    // screens, so the walker sees each bounded projection several
    // times
    "doc_embed", "contamination_semantic_computed", "doc_embed_recall",
    // dedup_semantic_computed(+_recall): same bounded frames (IDF
    // table on the 1024-bucket domain, 1-row scalars) + the fixed
    // ≤150-row probe set
    "dedup_semantic_computed", "dedup_semantic_computed_recall")

  test("no query force-broadcasts a corpus-sized table") {
    val offenders = built.collect {
      case (name, _, hints, _) if hints.nonEmpty &&
          !boundedHintWhitelist(name) =>
        s"$name: ${hints.mkString("; ")}"
    }
    assert(offenders.isEmpty,
      s"forced broadcast of unbounded tables:\n${offenders.mkString("\n")}")
  }

  /** Queries whose partition-less windows run over a BOUNDED frame.
    * Every entry names the bound. The two former offenders over
    * SF-SCALED dimensions (orders_abc: parts; agg_spearman:
    * suppliers) were REWRITTEN onto Ranking.globalRowNumber/prefixSum
    * in r8 rather than whitelisted. */
  private val globalWindowWhitelist: Set[String] = Set(
    // 9-digit Benford histogram / binned cents histograms — the
    // cumulative pass runs over distinct bins, never rows
    // same binned-CDF bound: the midrank cumulative runs over distinct
    // floor-dollar bins, never observations
    "agg_benford", "agg_gini", "stats_ks", "stats_mannwhitney",
    // distinct-doc-length histogram (the scale-safe exact-quantile
    // pattern this query exists to demonstrate)
    "curriculum_buckets",
    // bounded event-type domain (≤9 groups); stats_kruskal's midrank
    // window additionally rides the bounded BIN domain (stats_ks bound)
    "stats_anova", "stats_levene", "stats_kruskal",
    // bounded source-table domain (≤8 sources); mixture_optimize's
    // largest-remainder rank window rides the same domain (and
    // mixture_sample composes it); bpe_vocab_curve's lag window rides
    // the 6-row merge-round domain
    "mixture_temperature", "corpus_build_mix", "corpus_datasheet",
    "mixture_optimize", "mixture_sample", "bpe_vocab_curve",
    // calendar-bucketed series: per-day / per-month / hourly rollups
    // aggregated BEFORE the window — frame size is the time range
    "expect_volume", "ts_backlog", "ts_mom", "ts_seasonal",
    "stats_runs", "win_rolling_corr")

  test("no query runs a partition-less window over an unbounded frame") {
    val offenders = built.collect {
      case (name, _, _, gw) if gw.nonEmpty && !globalWindowWhitelist(name) =>
        s"$name: ${gw.mkString("; ")}"
    }
    assert(offenders.isEmpty,
      s"single-partition windows:\n${offenders.mkString("\n")}")
  }

  test("the unbounded-broadcast detector flags a planted corpus hint") {
    import org.apache.spark.sql.functions.{broadcast, col}
    val docs = Tables.documents(spark, sfDir)
    val planted = docs.join(
      broadcast(docs.select(col("doc_id"), col("source"))), Seq("doc_id"))
    assert(unboundedBroadcastHints(planted.queryExecution.analyzed).nonEmpty,
      "detector must flag a forced broadcast of the documents table")
    // and the bounded shapes stay allowed: a 1-row aggregate…
    val scalar = docs.crossJoin(broadcast(
      docs.groupBy().agg(org.apache.spark.sql.functions.count(col("doc_id")).as("n"))))
    assert(unboundedBroadcastHints(scalar.queryExecution.analyzed).isEmpty)
    // …and a top-k limit table
    val topk = docs.join(broadcast(docs.select(col("doc_id")).limit(10)), Seq("doc_id"))
    assert(unboundedBroadcastHints(topk.queryExecution.analyzed).isEmpty)
  }

  test("no query plans a nested-loop or cartesian join (exact-scan family excepted)") {
    val offenders = plans.collect {
      case (name, p) if !nljWhitelist(name) &&
        (p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")) =>
        name
    }
    assert(offenders.isEmpty, s"nested-loop plans: $offenders")
  }

  /** The r10 finding class as a machine check: a mapPartitions codec
    * loop over a bare (small) file scan runs as ONE task — at test SF
    * the documents corpus is a single parquet split, so every
    * synth-parse query must carry the explicit full-width round-robin
    * fan-out or its codec work serializes (multimodal_mjpeg measured
    * 4.5 s → 0.46 s at sf0.1 from this alone). */
  private val mustFan = Set(
    "multimodal_jpeg", "multimodal_gif", "multimodal_mjpeg",
    "multimodal_bmp", "multimodal_png", "multimodal_tar",
    "multimodal_mp4", "multimodal_wav", "multimodal_audio_gate",
    "warc_parse", "warc_gzip", "warc_wet", "binary_codecs",
    "multimodal_sniff", "dedup_phash", "multimodal_exif",
    "multimodal_exif_strip", "multimodal_align")

  test("codec-bound synth-parse queries fan to full width before the loop") {
    val missing = plans.collect {
      case (name, p) if mustFan(name) &&
        !p.contains("RoundRobinPartitioning") => name
    }
    assert(missing.isEmpty, s"single-split codec loops: $missing")
  }

  test("observe() rides the valid split without adding exchanges") {
    // the board's observe_metrics entry audits only the post-hoc
    // result literal (its constructor executes the noop write
    // eagerly — ADVICE r10), so the map-only claim about the REAL
    // observed pass is checked here on the same plan observeMetrics
    // executes: splitValid + observe() + noop write must stay one
    // exchange-free narrow stage at any corpus size
    import org.apache.spark.sql.functions._
    val observed = graft.analytics.EventsPipeline.splitValid(spark, sfDir)
      .observe("plan_audit",
        count(lit(1)).as("n_valid"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    val plan = observed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("CollectMetrics"), plan)
  }

  test("every budget and whitelist entry names a registered batch query") {
    // a renamed or streaming-flagged query must not leave a stale entry
    // behind, silently auditing nothing
    val batch = SparkEntry.registry.collect { case (n, q) if !q.streaming => n }.toSet
    val stale = (exchangeBudget.keySet ++ nljWhitelist ++
      boundedHintWhitelist ++ globalWindowWhitelist ++ mustFan) -- batch
    assert(stale.isEmpty, s"entries naming no registered batch query: $stale")
  }

  test("corpus stage sets follow the sever rule") {
    // CorpusBuild's sever rule: a set whose plan holds a join, an
    // aggregate or a text pass is checkpointed (a LogicalRDD); every
    // other set is Filter/Project over checkpointed leaves. A join,
    // aggregate or generator behind an unsevered set is re-compiled by
    // every ledger aggregate that reads it (the 20 s ledger trap).
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    import org.apache.spark.sql.execution.LogicalRDD
    import graft.analytics.{CorpusBuild, IncrementalBuild, ReleaseComputed}
    def overLeaves(p: LogicalPlan): Boolean = p match {
      case _: LogicalRDD => true
      case f: Filter => overLeaves(f.child)
      case pr: Project => overLeaves(pr.child)
      case _ => false
    }
    val severed = Set(2, 3, 4, 5, 9, 10)
    val st = IncrementalBuild.build(spark, sfDir)
    val stacks = Seq(
      "corpus_build" -> CorpusBuild.build(spark, sfDir)._2,
      "corpus_build_computed" -> ReleaseComputed.build(spark, sfDir)._2,
      "incremental old" -> st.oldSets,
      "incremental delta" -> st.deltaSets,
      "incremental scratch" -> st.scratchSets)
    val bad = for {
      (name, sets) <- stacks
      (ids, i) <- sets.zipWithIndex
      plan = ids.queryExecution.analyzed
      ok = if (severed(i)) plan.isInstanceOf[LogicalRDD] else overLeaves(plan)
      if !ok
    } yield s"$name ids$i:\n${plan.treeString.take(600)}"
    assert(stacks.forall(_._2.size == 11))
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("every query stays within its audited shuffle budget") {
    val over = plans.flatMap { case (name, p) =>
      val ex = "Exchange hashpartitioning".r.findAllIn(p).size
      val budget = exchangeBudget.getOrElse(name, 0)
      if (ex > budget) Some(s"$name: $ex > $budget") else None
    }
    assert(over.isEmpty, s"shuffle-budget regressions: $over")
  }
}
