"""Partition-width invariance: the determinism policy (decimal sums,
md5 bucketing, min/max lattices, total orders) claims results are
independent of HOW the data is partitioned. The oracle gate only ever
runs at one width — this test re-runs a representative set of the
newest operators at a different shuffle width and requires
bit-identical results, catching any accidental dependence on
partition count (e.g. a raw float sum or a per-partition id) before
it ships.
"""

from __future__ import annotations

import pytest

from etl_xlsx_potgres_spark import registry

from .oracle_utils import assert_frames_match

registry.load_all()

# batch queries added in r8 (streaming ones replay through memory
# sinks with their own width pinning — covered by their oracles)
NAMES = [
    "ts_resample_ffill",
    "emb_label_centroids",
    "events_funnel_conversion",
    "training_negative_samples",
    "quality_profile_orders",
    "dedup_connected_components",
    # older operators whose mechanics are most partition-sensitive:
    # iterative fixed-point, Arrow grouped-map UDAF, cogrouped asof
    "graph_pagerank_trade",
    "udaf_price_trend_per_customer",
    "join_asof_cogrouped",
    # r8b additions with the most partition-sensitive mechanics:
    # iterative centroid rebuild (sorted-collect), persisted-frame
    # reuse, salted two-phase top-k, integer matvec reduce,
    # hash-keyed top-k sample, selection-based medians
    "emb_kmeans_iterations",
    # r11: chunked EWMA — ordered float folds composed across chunk
    # boundaries; any partition-dependence in the window order or the
    # chunk combine would break bit-identity
    "ts_ewma_chunked",
    "dedup_corpus_segments",
    "text_inverted_index",
    "emb_covariance_power_step",
    "sample_weighted_det",
    "ts_mad_outliers",
    # r8c additions: distinct-agg two-phase on the window key, and a
    # write->read->aggregate roundtrip (decimal-sum policy through ORC)
    "dedup_substring_windows",
    "orc_roundtrip_ingest",
    # order-pinned sequential double fold inside a collect — the most
    # partition-sensitive arithmetic shape in the suite
    "ts_ewma_by_user_type",
    # order-sensitive sequence digest downstream of a persisted
    # explode + broadcast vocab join
    "text_encode_ids",
    # float closed-form over exact fixed-point sums — the claim is
    # precisely partition-order independence
    "stats_correlation_matrix",
    # argmin over per-row double folds + floored micro-unit sums
    "emb_pq_encode",
    # lead-window bigrams + floored micro-nat model join
    "text_bigram_logprob",
    # r9 rewrite: top-K vocab packed by collect_list into one array
    # cell — the collect order varies with partitioning, so the claim
    # is that membership-counting is order-independent
    "text_oov_rate",
    # iterative top-1 selection feeding the next round's input: a
    # partition-dependent limit(1) would cascade through all rounds
    "text_bpe_merge_rounds",
    # r13: DPP join — the pruned month set must not depend on how the
    # dim/fact are partitioned; decimal revenue sums are exact
    "dpp_partition_pruned_join",
    # r13: SemDeDup — argmin assignment + cosine-threshold pairs must
    # be width-independent (deterministic tie-break, exact counts)
    "dedup_semantic_clusters",
    # r13: sequence packing — the bucketed prefix sum must equal the
    # global cumsum at every shuffle width (integer-exact, but the
    # bucket-offset composition is the partition-sensitive mechanics)
    "pack_sequences_stats",
    # r13: triangle counting — collect_list neighbor arrays are
    # partition-order-dependent; the claim is that intersection SIZES
    # summed are not
    "graph_triangle_count",
    # r14: NB quality scores — floored micro-nat model joins + bigint
    # doc rollups; the model aggs must be width-independent
    "quality_nb_scores",
    # r14: incremental dedup — bucket-routed history probe; the
    # distinct-candidate counts must not depend on probe width
    "dedup_incremental_newbatch",
    # r14: Gopher rules — exact-integer ratios; the bigram max/sum
    # rollup must be width-independent
    "quality_gopher_repetition",
    # r14: xlsx export roundtrip — file-per-partition write at TWO
    # different partition counts must reassemble identically
    "xlsx_export_roundtrip",
    # r14: PII scrub — deterministic projection must be trivially
    # width-independent (regression canary for the mask exprs)
    "pii_scrub_customers",
    # r14: mix rebalance — md5-coin keep decisions summed per source
    # must be exact at any width (bigint cross-products, no floats)
    "corpus_mix_rebalance",
    # r14: bin-histogram selection/gating — integer micro-scores and
    # cumulative bin sums must be exact at any width
    "select_token_budget",
    "quality_ccnet_gate",
    # r14: batch formation — row_number over (n_tokens, doc_id) is a
    # total order, so batch stats must not move with partitioning
    "pack_length_buckets",
    # r14: blocked linkage — min(struct) argmin must be width-stable
    "linkage_blocked_match",
    # r14: drift monitor — micro-unit TV distances are exact bigints,
    # immune to partition-order float summation
    "drift_weekly_value_hist",
    # r14: PQ ADC search — micro-floored LUT/exact distances with
    # (dist, vec_id) tie-breaks must rank identically at any width
    "ann_pq_adc_rerank",
    # r15: trained PQ — the Lloyd update's per-(m,k,dim) micro sums
    # and sorted-collect codebook rebuild are the partition-sensitive
    # mechanics; the claim is exact-mean width independence
    "ann_pq_trained",
    # r15: URL dedup — min/count window over the canonical key must
    # not depend on which partition sees a group first
    "dedup_url_canonical",
    # r16: IVF-PQ — coarse min(struct) list assignment + pruned ADC
    # sums; the claim is that the candidate sets (and so every rank
    # decision downstream) are width-independent
    "ann_ivfpq_search",
    # r16: domain calibration — per-domain cumulative bin sums and
    # exact rate fractions must not move with partitioning
    "quality_domain_calibrated",
    # r16: token-budget chunking — trained-merge winners (total-order
    # top-1 per round) feed row-local prefix sums; a width-dependent
    # winner would cascade into every chunk boundary
    "text_chunk_token_budget",
    # operators/rank.py top_n: per-key row_number windows whose total
    # order ends in the id, so the survivors and their ranks must not
    # move with the shuffle width
    "topk_orders_per_customer",
    "text_tfidf_top_terms",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "ref_dedup_deterministic",
]


@pytest.mark.parametrize("name", NAMES)
def test_result_independent_of_shuffle_width(name, spark, sf_dir):
    fn = registry.QUERIES[name]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        wide = fn(spark, sf_dir).toPandas()
        spark.catalog.clearCache()
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        narrow = fn(spark, sf_dir).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.catalog.clearCache()
    assert_frames_match(wide, narrow, f"{name}@width8-vs-3")
