#!/bin/bash
# sf10 oracle spot-gate (round-8 verdict item 6): hash-compare a
# tractable subset of queries at sf10 to guard against scale-dependent
# correctness drift (integer overflow, float accumulation order).
# Subset = cheap-output aggregates / top-ks over the big fact tables —
# NOT the dedup/minhash family, whose DuckDB replay is interpreted
# HUGEINT arithmetic (the full sf0.1 compare already costs ~2 h).
# Run AFTER any bench, never alongside one (DuckDB takes all cores).
set -e
cd /root/repo
R=${1:?round tag, e.g. r09}
# q5/q21 are in the subset BECAUSE they were rewritten for the sf10
# decade (join order / window-to-aggregate) — the gate must cover
# exactly the queries whose plans changed under scale pressure.
# round-10 additions to the subset: evt_mv_merge (150-row MV, the
# partial-merge algebra MUST hold at scale), sim_threshold_sweep
# (<=19-row histogram), sim_kmeans (n-row assignment but pure integer
# arithmetic — the trajectory replay is the scale-drift tripwire for
# the whole integer-fixpoint family); batch-3/4 additions: q_mode,
# the three event-ops audits (tiny outputs, window/offset arithmetic
# that MUST hold on 10M events), and the two new two-stage ANN paths
# (50-row outputs; their oracles scan the corpus once in DuckDB).
# mm_phash joined the subset in r11 as the scale tripwire for the new
# native Phash63 expression (500k-row output, ~30 s DuckDB replay);
# mm_phash_pairs's LIST stays OUT — on the GenScale corpus every doc
# is a ~100-way clone cluster, so its sf10 output is ~20M pairs
# (quadratic in clone multiplicity) — but since r12 its AGGREGATE
# twin mm_phash_pair_stats IS in the subset: the <=4-row hamming
# histogram hash-checks the entire pair computation at sf10 while
# DuckDB streams the pair list internally, closing the last
# pair-family exclusion.
# sim_ivfsq_ann / sim_ivfsq_stored use a STAGED oracle at sf10
# (tools/oracle_sim_ivfsq_staged.sql, injected below): the inline
# replay materialized the centroid-training and sq-range unnests
# (e × 64 rows carrying the 64-double vector) in one pipeline and
# spilled >78 GB before ENOSPC; the staged temp-table rewrite (the
# dedup_components oracle technique) runs in seconds. Equivalence of
# staged vs inline SQL is asserted at sf0.01+sf0.1 (round-11 check).
# r12 additions: the round's five new sf10-tractable keys — the two
# TPC-H adaptations (bounded-group outputs), the gopher rule panel
# (20 rows; list-lambda scans), binary ANN (50 rows; sign-predicate
# hamming), and the ccnet terciles (15 rows; the bigram-LM replay at
# sf10 plus a histogram CDF). mm_phash_clusters stays OUT of the
# scripted subset: its oracle closes the ~20M-pair graph through 16
# materialized contraction rounds in DuckDB — gate it ad hoc when a
# round touches the contraction (r12 did; see SCALING_NOTES_r12).
# r12 session-2 additions: every key whose PLAN changed under scale
# pressure this round and whose oracle is sf10-tractable — q_skew_join
# (salted-join strategy swap), q_approx_percentile (single-sketch
# array form), txt_tokens/txt_quality/txt_repetition (native
# PunctCount/BpeCount/ShingleMd5 scans; outputs 5 / 500k / 500k rows,
# linear replays), pipeline_curate (ShingleMd5 trigram gate),
# txt_fingerprint (native WindowMin winnowing), and the new
# txt_heaps_law. dedup_incremental's rework is NOT here: its
# oracle replays 64-slot minhash in interpreted HUGEINT (the excluded
# family); its restructure is hash-gated at 3 SFs instead.
# r12 session-3 additions: the continuation batch's 8 sf10-tractable
# keys — q11/q_window_range/q_median_mad (bounded or per-customer
# outputs, integer-cents arithmetic that must hold at sf10 magnitude),
# txt_zipf (integer-moment slope fit), evt_interarrival (unix_micros
# gap arithmetic on 100M events), dedup_boilerplate (md5 block-hash
# replay, linear), mm_chunk_refcount (chunk-explode histogram,
# linear), mm_blob_pack (running-sum archive cuts; ~corpus/4096-row
# output but a pure streaming window replay). graph_jaccard stays OUT:
# its naive node-space oracle is Σdeg²-quadratic in clone multiplicity
# on the GenScale corpus (the mm_phash_pairs family) — its clone-class
# algebra is pinned by GraphSpec's clique fixture + 3-SF gates.
# r12 session-4 additions: pipeline_chunk (~1.2M-row chunk manifest,
# linear slice+md5 replay), pipeline_expectations (14-row constraint
# report — count-distinct arithmetic on 10M-row keys), evt_cdc_apply
# (per-user last-image windows on the full event log). graph_kcore
# stays OUT for sim_knn_graph's own reason: the DuckDB knn replay is
# per-cell-quadratic cosine; its peel machinery is pinned by the
# DedupSimSpec cascade fixture + 3-SF gates. sim_index_profile IS in
# (linear centroid-cosine replay, 10-row output); graph_clustco is
# OUT with graph_triangles (pair-quadratic edge oracle), fixture +
# 3-SF gated.
# r12 session-5 additions: q12_ship_lateness (2-group lateness split,
# one linear join replay), txt_dsir_weights (500k-row doc scores; the
# bigram-explode + 8192-bucket-model replay is linear — the
# txt_bigram_lm magnitude), sim_hybrid_rrf (≤100-row fused ranks; the
# lexical posting replay is df-capped and the vector leg is the same
# 10-query corpus cosine scan sim_sq_ann's oracle already runs here),
# txt_bpe_train (8-row merge table; the replay's only corpus-sized
# stage is the linear word-frequency aggregate — every generated
# merge stage is vocabulary-sized), txt_bpe_apply (same chain + one
# linear corpus word join; 500k-row doc output), pipeline_dsir_sample
# (5-row selection report over the dsir replay + one hash coin),
# sim_mmr_rerank (100-row greedy re-rank; the candidate leg is the
# same 10-query corpus cosine scan, the greedy stages are
# MATERIALIZED 200-row CTEs). graph_coreness stays OUT with
# graph_kcore: the shared mutual-kNN prefix is the per-cell-quadratic
# DuckDB knn replay; the nested-phase peel is pinned by the
# DedupSimSpec tier fixture + 3-SF hash gates.
# r12 session-5 dispositions: dedup_keep_one stays OUT — its oracle
# replays dedup_components' recursive-CTE label propagation over the
# full band graph (the excluded dedup family) before the per-cluster
# keeper argmax; the keeper policy itself (length/ties) is pinned by
# a hand-computed fixture + 3-SF hash gates. sim_recall_eval (now the
# full 8-scheme matrix) stays OUT with sim_brute_topk: its oracle
# recomputes exact ground-truth top-k per query vector — the
# pair-quadratic knn family.
# r14 widening (verdict item 1, 100 -> ~151): the ~40 tractable keys
# the r13 verdict listed, plus this round's two new keys and the NSW
# family. Relational adds (bounded or <=1.5M-row outputs, linear
# replays): the join/setop family (q_anti/semi/outer/full_outer/
# setops/except), the window family (q_lead_gap, q_percent_rank and
# q_window_running — 15M-row outputs, but percent_rank/cume_dist and
# frame-ordered running sums are order-pinned so the float values
# replay exactly; the compare is vectorized in localverify now),
# q_percentiles, the SCD2 pair + asof pair + q_upsert_latest
# (10-15M-row outputs, per-key windows / ASOF joins — linear in
# DuckDB), q_scalar_subquery/q_collect_list/q_array_funcs/
# q_string_funcs/q_range_join. evt adds: evt_enrich (125-row
# enrichment rollup), evt_json_extract, evt_sessionize (9.5M
# sessions; the gap-island windows over the full log). pipeline adds:
# every deterministic split/sample/pack/shuffle/zorder/curriculum/
# mixture/cap key (bounded or per-doc outputs, pure hash/window
# replays) — pipeline_decontam stays OUT (its oracle replays the
# 64-slot HUGEINT minhash, the excluded dedup family). txt adds:
# tfidf/surprisal/term_freq/doc_freq/pii_scrub/contamination(+bloom)/
# classifier/bigrams/bigram_lm — all linear token-stream
# replays (the txt_ccnet_buckets magnitude, which already gates) —
# plus txt_classifier_train (256-row trained-weight artifact).
# txt_approx_topk was TRIED in the first r14 widened run and came
# back 50-cell scrambled: at sf10 the clone-suffixed vocabulary puts
# many words within the Space-Saving sketch's N/capacity ≈ 2000-count
# error bound of each other, so approximate re-ranking flips clone
# variants ('small' vs 'small~11') — the approximation working as
# specified, not a bug (the q_approx_distinct class); its EXACT twin
# txt_term_freq gates the same top-k functionality at sf10, and the
# sketch stays oracle-exact at the 3 hash-gate SFs where the top-10
# frequency gaps exceed the error bound.
# dedup_cluster_stats (md5 groupby, 2 rows). sim adds: sim_nsw_ann /
# sim_nsw_stored / sim_knn_graph — the r13 exclusion reasoned by
# analogy that the per-cell-quadratic knn base was infeasible, but
# GenScale cells are CONSTANT-SIZE (~200 vecs at every SF, cells
# scale instead), so the MATERIALIZED base graph is 1000 cells x
# 200^2 = 40M pair cosines — measured 248 s for the full NSW replay
# at sf10 (closing r13 verdict item 2 WITHOUT staging). pipeline_rag
# uses a STAGED oracle (tools/oracle_pipeline_rag_staged.sql): its
# inline form embeds the sim_ivfsq chain, which spills at sf10; the
# staged prelude is the ivfsq temp-table rewrite verbatim,
# equivalence checked at sf0.01+sf0.1 (r14 check). Money-sum keys
# entering the gate (q_upsert_latest, q_range_join, evt_enrich) were
# moved to DECIMAL accumulation on both sides FIRST — their 3-125
# whole-fact groups sit at the q_cube cent-flip magnitude.
# Still OUT, each for a measured reason: the dedup/minhash HUGEINT
# family (incl. pipeline_decontam, dedup_incremental), evt_produce
# (output IS the 10M-row log; all four consumers replay its CTE),
# mm_phash_pairs (~20M-pair output) and mm_phash_clusters /
# graph_kcore / graph_coreness / graph_clustco / graph_triangles /
# graph_jaccard / graph_pagerank / graph_components / graph_coreness
# (contraction/peel chains over the clone-clique graph — fixture +
# 3-SF gated), sim_brute_topk / sim_recall_eval / sim_pq_* /
# sim_ivf_ann / sim_lsh_ann (per-query corpus rescans that add ~10
# DuckDB corpus passes for outputs their stored/staged twins already
# gate), q_approx_distinct (HLL, oracle-infeasible by design).
# r13 widening (verdict item 3, 73 -> ~100): the remaining evt surface
# — the three P-model producers/consumers (evt_offsets /
# evt_consume_batches / evt_multi_topic; the offset-assignment
# arithmetic gates at the default P=8 — evt_produce itself stays OUT
# because its output IS the full log, and all four consumers replay
# its produce CTE anyway), plus the windowed/sessionized consumer
# audits (evt_windowed/sliding/session_window/first_last/funnel/
# retention/transitions/anomaly/attribution/pivot/moving_agg/
# distinct_sliding/error_routing — per-user or per-hour windows,
# bounded or linear outputs), nine orders/lineitem relational shapes
# (q17/q_stats/q_multi_distinct/q_grouping_sets/q_cube/q_unpivot/
# q_promo_effect/q_date_dim/q_gap_fill — aggregate outputs), and two
# linear text scans (txt_langid 500k rows, txt_entropy per-doc
# char-class entropy). [superseded r14: sim_nsw_ann / sim_nsw_stored
# / sim_knn_graph JOINED the subset — the per-cell kNN base measured
# tractable at sf10 (constant-size cells; full replay 248 s), see the
# r14 widening note above.]
# r14 session-2 additions: dedup_embed + graph_degree_hist — the
# graph family previously had ZERO sf10 representation. Both oracles
# are SINGLE-PASS label-blocked pair-cosine replays (no fixpoint):
# GenScale remaps labels per copy, so blocks stay ~200 vectors at any
# SF → sf10 = ~1000 blocks x 200^2/2 ≈ 20M cosines, the same envelope
# the NSW kNN base measured at 248 s. dedup_embed's ~20M-row pair
# output rides localverify's vectorized compare; graph_degree_hist is
# a bounded histogram. The fixpoint graph keys (components/pagerank/
# kcore/coreness/clustco/triangles/jaccard) stay OUT: their oracles
# chain materialized contraction/peel rounds over the pair base
# (the mm_phash_clusters class — gate ad hoc when a round touches
# the contraction).
# r14 session-3 widening (152 -> 178, gated via the incremental
# CORRECTNESS_SF10_NEWOPS_r14 run, 21/21 — the NEWOPS_r10 pattern):
# dedup_embed's sf10 output measured the near-dup graph at only ~39k
# EDGES (clone cliques are constant-size), so every graph fixpoint's
# post-pair work is trivial — the WHOLE graph family joined
# (components/pagerank/triangles/jaccard/clustco/kcore/coreness; each
# replays the shared ~20M-cosine pair base once, then iterates over
# the 39k-edge relation). Also: dedup_exact (md5 groupBy),
# dedup_paragraph (block-hash replay, the boilerplate class),
# dedup_semantic (label-blocked pair cosines, the dedup_embed class),
# mm_binary_meta/chunk_dedup/decode_batch/frame_sample (linear
# metadata/series replays), txt_dup_coverage (shingle-df, 8-byte
# keys), and six ANN-family keys (five search schemes + the
# sim_centroids quantizer-training key) whose oracles are 10-query
# corpus scans / cell unnests
# excluded only BY ANALOGY before measurement: sim_brute_topk (2M
# cosines — NOT the recall_eval matrix), sim_centroids (12.8M-cell
# unnest), sim_range_search, sim_ivf_ann, sim_lsh_ann,
# sim_filtered_ann. A fourth probe admitted the PQ family
# (sim_pq_ann/pq_rerank/ivfpq_ann/ivfpq_stored) AND sim_recall_eval —
# presumed ivfsq-spill-class, but their unnests carry 8-double
# SUBvectors, not the 64-double payloads that spilled; measured
# inline at sf10: all five hash-green, no spill (subset -> 178).
# r15 widening (verdict item 1, 178 -> 188): the HUGEINT-minhash
# family joins via STAGED oracles — tools/gen_minhash_stage.py
# recomputes the engine-independent 64-slot rotate-xor signature a
# THIRD way (python hashlib + numpy, byte-identical to DuckDB's
# md5_number_lower/upper convention) and writes the band/simhash-chunk
# relations as parquet; the swap below (tools/stage_minhash_oracles.py)
# replaces each oracle's `d -> sig -> bands` prefix with a staged scan
# and replays the FULL DOWNSTREAM (banding joins, 16-round components
# closure, decision joins, keeper argmax) in DuckDB, where the
# sf10-magnitude bugs live. Staged == inline is asserted at FOUR SFs
# (relations: sf0.001/sf0.01/sf0.1/sf1 via check_minhash_stage.py;
# whole oracles: sf0.01/sf0.1 via check_staged_oracles.py). Measured
# staged downstream at sf10: minhash 0.2 s, incremental 1.3 s,
# components 31.5 s, keep_one 30.3 s, cross_source 0.4 s, decontam
# 0.2 s, simhash 33.2 s (25.2M-pair output rides the vectorized
# compare, the dedup_embed class). dedup_substr joins INLINE — its
# oracle has no 64-slot arithmetic (per-row native md5; measured
# 4.1 s at sf10); it had been excluded by family analogy only.
# mm_phash_pairs joins (20M-row list, oracle 17.8 s, the r14 carry
# item) and mm_phash_clusters joins (contraction closes in 258 s, the
# NSW-replay envelope).
# r15 session-2: dedup_recall_eval joined via a STAGED TRUTH
# (tools/gen_truth_stage.py): the inline DuckDB truth (1.56e9 slice
# intersections — the %4 slice concentrates in 5 of 20 GenScale
# sources) ran >33 min without finishing; the python recompute does
# every block's pairwise intersection sizes as ONE float32 matmul
# over the membership matrix (~13.5 min at sf10) and replicates the
# round(round(j,4)*10000) convention with decimal HALF_UP on the same
# IEEE double. Staged truth == inline truth EXACTLY at sf0.01/sf0.1/
# sf1 (check_truth_stage.py — 664,670 sf1 pairs, zero diff; GenScale
# preserves word-set sizes across clone copies, so the (inter, union)
# rationals at sf10 are the small-SF ones), staged oracle == inline
# oracle at sf0.01+sf0.1 (check_staged_oracles.py). Staged oracle at
# sf10: 10.1 s. Subset -> 189 of 193.
# Still OUT, each for a measured reason: dedup_ngram (the one
# structural exclusion left: EXACT pair jaccard over source blocks
# that GROW with the corpus — 20 x 25k-doc blocks = 6.25e9 pairwise
# ~70x70 list-intersections at sf10, hours even staged; its algebra
# is pinned by the DedupSimSpec fixture + 3-SF hash gates),
# evt_produce (output IS the 100M-row log; its four consumers gate
# it), txt_approx_topk + q_approx_distinct (declared approximations,
# measured comments above).
SUBSET="q1_pricing_summary,evt_offsets,evt_produce_stats,evt_consume_batches,evt_multi_topic,evt_windowed,evt_sliding,evt_session_window,evt_first_last,evt_funnel,evt_retention,evt_transitions,evt_anomaly,evt_attribution,evt_pivot,evt_moving_agg,evt_distinct_sliding,evt_error_routing,q17_small_quantity,q_stats,q_multi_distinct,q_grouping_sets,q_cube,q_unpivot,q_promo_effect,q_date_dim,q_gap_fill,txt_langid,txt_entropy,q2_top_customers,q3_shipping_priority,q4_order_priority,q5_local_supplier,q6_forecast_revenue,q7_volume_shipping,q8_market_share,q9_product_profit,q10_returned_items,q13_cust_distribution,q15_top_supplier,q18_large_orders,q19_disjunctive,q21_blame_supplier,q22_idle_customers,q_conditional_agg,q_distinct,q_having,q_quantile_buckets,q_rollup,evt_top_types,evt_value_buckets,txt_length_hist,evt_mv_merge,sim_threshold_sweep,sim_kmeans,q_mode,evt_rate_limit,evt_out_of_order,evt_log_integrity,sim_sq_ann,sim_matryoshka,evt_concurrency,txt_bpe_pairs,sim_ivfsq_ann,sim_ivfsq_stored,sim_matryoshka_stored,mm_phash,pipeline_kanon,mm_phash_pair_stats,q16_supplier_variety,q20_excess_shipments,txt_gopher_rules,sim_binary_ann,txt_ccnet_buckets,q_skew_join,q_approx_percentile,txt_tokens,txt_quality,txt_repetition,pipeline_curate,txt_heaps_law,txt_fingerprint,q11_important_stock,q_window_range,q_median_mad,txt_zipf,evt_interarrival,dedup_boilerplate,mm_chunk_refcount,mm_blob_pack,pipeline_chunk,pipeline_expectations,evt_cdc_apply,sim_index_profile,q12_ship_lateness,txt_dsir_weights,sim_hybrid_rrf,txt_bpe_train,txt_bpe_apply,pipeline_dsir_sample,sim_mmr_rerank,q_anti_join,q_semi_join,q_outer_join,q_full_outer,q_setops,q_except,q_lead_gap,q_percent_rank,q_window_running,q_percentiles,q_scd2_dim,q_scd2_lookup,q_asof_join,q_asof_native,q_upsert_latest,q_scalar_subquery,q_collect_list,q_array_funcs,q_string_funcs,q_range_join,evt_enrich,evt_json_extract,evt_sessionize,pipeline_cap,pipeline_curriculum,pipeline_fixed_sample,pipeline_mixture,pipeline_pack,pipeline_prep,pipeline_sample,pipeline_shard,pipeline_shuffle,pipeline_split,pipeline_zorder,txt_tfidf,txt_surprisal,txt_term_freq,txt_doc_freq,txt_pii_scrub,txt_contamination,txt_contamination_bloom,txt_classifier,txt_bigrams,txt_bigram_lm,txt_classifier_train,dedup_cluster_stats,sim_nsw_ann,sim_nsw_stored,sim_knn_graph,pipeline_rag,dedup_embed,graph_degree_hist,graph_components,graph_pagerank,graph_triangles,graph_jaccard,graph_clustco,graph_kcore,graph_coreness,dedup_exact,dedup_paragraph,dedup_semantic,mm_binary_meta,mm_chunk_dedup,mm_decode_batch,mm_frame_sample,txt_dup_coverage,sim_brute_topk,sim_centroids,sim_range_search,sim_ivf_ann,sim_lsh_ann,sim_filtered_ann,sim_pq_ann,sim_pq_rerank,sim_ivfpq_ann,sim_ivfpq_stored,sim_recall_eval,dedup_minhash,dedup_incremental,dedup_incremental_stored,dedup_components,dedup_keep_one,dedup_cross_source,pipeline_decontam,dedup_simhash,dedup_substr,mm_phash_pairs,mm_phash_clusters,dedup_recall_eval,dedup_ngram_slice"
OUT=/tmp/verify_sf10_${R}
# stage the minhash/simhash intermediates and the recall-eval truth
# BEFORE the Spark run so a generator failure aborts the gate early
# (~80 s + ~13.5 min at sf10)
MHSTAGE=/tmp/mhstage_sf10_gate
python3 tools/gen_minhash_stage.py /root/repo/bench-data/sf10 $MHSTAGE
python3 tools/gen_truth_stage.py /root/repo/bench-data/sf10 $MHSTAGE
SPARK_GRAFT_QUERIES=$SUBSET SPARK_GRAFT_CPUS=16 SPARK_DRIVER_MEM=24g \
  sbt -batch "runMain graft.Verify /root/repo/bench-data/sf10 $OUT" \
  > /tmp/verify_sf10_${R}.log 2>&1
# Verify writes the oracle SQL of the subset only; swap the staged
# oracles into it
python3 - "$OUT" <<'EOF'
import json, sys
out = sys.argv[1]
p = f"{out}/oracle_sql.json"
d = json.load(open(p))
# swap in the staged (temp-table) oracle for the IVF+SQ pair — the
# inline single-query form spills at sf10 (see header comment)
staged = open("tools/oracle_sim_ivfsq_staged.sql").read()
for k in ("sim_ivfsq_ann", "sim_ivfsq_stored"):
    if k in d:
        d[k] = staged
# same move for pipeline_rag, whose inline oracle embeds that chain
if "pipeline_rag" in d:
    d["pipeline_rag"] = open("tools/oracle_pipeline_rag_staged.sql").read()
# and the minhash/simhash family: swap the signature prefix for the
# staged parquet scan (downstream replays in full — see header)
sys.path.insert(0, "tools")
from stage_minhash_oracles import swap
swap(d, "/tmp/mhstage_sf10_gate")
json.dump(d, open(p, "w"), indent=1)
EOF
python3 tools/localverify.py /root/repo/bench-data/sf10 $OUT \
  CORRECTNESS_SF10_${R}.json
