"""Shuffle-count budgets for the r8b operators: every Exchange in a
plan is a corpus-wide (or at least frame-wide) data movement, and the
counts below are the audited minimum for each query's semantics. A
regression that adds an Exchange (a lost partitioning reuse, an
accidental repartition, a broadcast that degraded to shuffle at test
SF) fails here before it ships.

Deliberate non-optimization, recorded: for the tf-style composite-key
aggregates (``groupBy(doc_id, term)`` / ``groupBy(seg, doc_id)``),
pre-partitioning on the single join key WOULD satisfy Spark's
ClusteredDistribution and drop one Exchange — but it concentrates
every row of a hot term/segment into one task, exactly the skew the
both-key partial aggregate spreads. The extra Exchange is the price
of skew resistance; AQE's skew-join handles the join side.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from etl_xlsx_potgres_spark import registry

registry.load_all()

# measured on the audited plans (sf-independent: plan shape, not data)
BUDGETS = {
    "dedup_corpus_segments": 3,       # (seg,doc) agg + seg freq + doc rollup
    "text_unigram_logprob": 5,        # tf agg + vocab agg + term join + doc rollup
    "emb_scalar_quantize": 2,         # dim stats + 1-row collect
    "emb_kmeans_step": 2,             # argmin window + K-row aggregate
    "text_bpe_pair_counts": 9,        # pair count + top-k + global_row_number plumbing (tiny frames)
    "text_bpe_merge_rounds": 8,       # ONE corpus word-count shuffle + per-round
                                      # vocab-sized pair agg / 1-row top-1 / union
                                      # plumbing (3 unrolled rounds, tiny frames)
    "text_inverted_index": 4,         # tf agg + (term,salt) window + term window + df
    "emb_covariance_power_step": 1,   # the 64-group matvec reduce
    "ts_mad_outliers": 4,             # 2 selection windows + 2 joins/rollup
    "zorder_locality_stats": 1,       # one 256-group partial agg
    "emb_kmeans_iterations": 2,       # final iteration only (earlier ones checkpointed)
    "stats_chi2_lang_source": 7,      # cell agg + 3 marginals + joins (constant-size frames)
    "quality_benford_prices": 3,      # 9-group agg + 1-row total + join
    "sample_weighted_det": 6,         # top-k + global_row_number plumbing (<=20-row frames)
    "text_bm25_search": 16,           # tf/df/dl/stats joins + top-k + rank plumbing;
                                      # the corpus-scale ones are tf agg + dl join only
    # the suite's most expensive pre-existing queries — where an added
    # shuffle costs most (counts from the same cold-plan audit)
    "dedup_levenshtein_pigeonhole": 5,
    "curation_pipeline_stats": 9,
    "reference_pipeline_1200rows": 55,  # 4-output fan-out pipeline
                                        # (r9: transform subtree now a
                                        # checkpoint scan, one fewer)
    "dedup_embedding_neardup": 0,       # label-blocked broadcast pairs
    "dedup_embedding_lsh": 1,
    "dedup_simhash_signatures": 1,
    "text_oov_rate": 4,  # term agg + top-K rank plumbing; doc side is map-only (r9 rewrite)
    "dedup_ngram_jaccard": 4,
    "dedup_minhash_lsh_pairs": 4,     # shingle-stitch window + the r17
                                      # occupancy-cap window (the hot-band
                                      # quadratic guard) + countDistinct
                                      # two-phase; ranked bands persisted
                                      # so sig+cap compute once, and the
                                      # r18 star leg reuses the window's
                                      # Exchange (leaders = rank 1), so
                                      # stars add no census entry
    "agg_percentiles": 1,
    "skew_salted_join": 2,
    "contamination_train_test": 7,
    # r8c additions
    "text_char_entropy": 0,           # map-only: fixed-alphabet histogram, no explode
    "dedup_substring_windows": 2,     # distinct-agg two-phase on the md5 window key
    "xml_roundtrip_ingest": 0,        # read-back is a pure scan
    "orc_roundtrip_ingest": 1,        # one partial+final agg over the ORC scan
    "fn_url_pack": 0,                 # parse_url projection, map-only
    "ts_ewma_by_user_type": 1,        # one groupBy; the fold is in-expression
    "ts_ewma_chunked": 1,             # window exchange reused by both
                                      # downstream (entity[,chunk]) aggs
    "agg_countmin_heavy_hitters": 2,  # term agg + <=192-cell grid agg (topk/est joins broadcast)
    "text_encode_ids": 10,            # corpus-scale: term agg + doc regroup; rest is
                                      # constant-K vocab top-k/global_row_number plumbing
    "win_distribution_pack": 1,       # one hash partition by priority
    "subquery_recursive_chain": 2,    # seed/step join exchanges against the
                                      # cached rank index; per-level joins
                                      # execute inside UnionLoop
    "stats_correlation_matrix": 1,    # one pass -> 1-row sufficient stats
    "fn_variant_pack": 0,             # parse_json/variant_get projection
    "script_threshold_ladder": 0,     # probes run inside the script; the
                                      # result frame is the final SELECT
    "join_bucketed_colocated": 1,     # agg only — the join itself reads
                                      # co-bucketed layout with no Exchange
                                      # (asserted broadcast-free in
                                      # tests/test_bucketing.py)
    "emb_pq_encode": 2,               # (vec,m) argmin window + code pivot agg
    "csv_quarantine_ingest": 1,       # 1-row quarantine-count broadcast back
    "mm_audio_features": 0,           # synthesize + mapInPandas, map-only
    "mm_image_resize": 0,             # synthesize + mapInPandas, map-only
    "text_bigram_logprob": 7,         # pos window (x2: the bigram frame is
                                      # deliberately NOT persisted, so its
                                      # doc_id window shuffle appears under
                                      # both consumers — rebuilding from the
                                      # cached narrow toks frame measured
                                      # faster than materializing the wide
                                      # bigram frame, r9 PLANS.md) +
                                      # bigram/unigram counts + model join +
                                      # doc rollup (one tokenize pass)
    "quality_expectations_suite": 4,  # scalar agg + uniqueness agg + anti-join
                                      # count + union plumbing, one scan per
                                      # rule FAMILY not per rule
    "join_null_safe_eq": 2,           # two side aggregates; the 6-row
                                      # null-safe join auto-broadcasts
    "version_snapshot_diff": 1,       # v1/v2 reads are PartitionFilters
                                      # (verified in-plan); one diff agg
    "dpp_partition_pruned_join": 1,   # one month agg; the join is a
                                      # broadcast with a DPP subquery
                                      # (asserted in tests/test_dpp.py)
    "xlsx_datasource_ingest": 1,      # one 4-key partial agg over the
                                      # per-file Python-data-source scan
    "dsir_importance_weights": 4,     # r20 row-local scoring: the <=B-key
                                      # model-fit agg + tot/model-pack
                                      # 1-row aggs over the persisted
                                      # featurize frame; scoring itself is
                                      # a map-side fold (no doc rollup, no
                                      # model join)
    "dsir_select_topk": 4,            # same DAG; top-k is TakeOrdered, no
                                      # extra exchange
    "graph_triangle_count": 9,        # basket agg + edge distinct + degree
                                      # agg + orientation joins + neighbor
                                      # collect + ONE close join (r20: the
                                      # edge side explodes back out of the
                                      # persisted neighbor frame, dropping
                                      # the src-keyed exchange+join; arrays
                                      # bounded by the orientation's
                                      # sqrt(m) out-degree)
    "export_training_shards": 2,      # repartition(shard) for the write
                                      # + the read-back per-shard agg
    "agg_hll_distinct_mergeable": 4,  # exact-verifier 2-phase distinct
                                      # (2) + sketch partials at the finer
                                      # grain + 3-group union merge (both
                                      # post-partial-agg, sketch-sized)
    "pack_sequences_stats": 7,        # ONE corpus bucket shuffle (the
                                      # offsets branch's twin exchange is
                                      # runtime-reused, ReusedExchange
                                      # verified) + final seq_id agg; the
                                      # rest are <=256-row bucket frames
    "quality_nb_scores": 5,           # r20 row-local scoring: <=B-key
                                      # model-fit agg + 1-row totals/
                                      # model-pack/prior aggs over the
                                      # persisted featurize frame; no doc
                                      # rollup, no final doc_id join
    "quality_nb_confusion": 6,        # same DAG + the 4-row confusion agg
    "dedup_incremental_newbatch": 2,  # new-batch signature window + hits
                                      # rollup; the HISTORY side is read
                                      # from its bucketed store with zero
                                      # Exchange (tests/
                                      # test_dedup_incremental.py)
    "text_chunk_udtf": 0,             # lateral UDTF fan-out is map-only
    "quality_gopher_repetition": 2,   # (doc,bigram) agg + doc rollup;
                                      # token stats are row-local
    "text_tokcount_arrow": 0,         # raw-Arrow map, no shuffle
    "xlsx_export_roundtrip": 1,       # the read-back aggregate; the
                                      # export repartition is in the
                                      # (executed) write job, not the
                                      # returned plan
    "pii_scrub_customers": 0,         # pure projection, map-only
    "corpus_mix_rebalance": 4,        # per-source count agg + 1-row
                                      # totals + doc-grain keep partials
                                      # + source rollup; the corpus
                                      # itself never shuffles (source
                                      # frames broadcast back)
    "select_token_budget": 2,         # score-bin histogram agg + the
                                      # ~100-row bin window; the corpus
                                      # is never globally sorted
    "pack_length_buckets": 4,         # 2 per-(bucket,shard) windows
                                      # (bucketed + naive policies) +
                                      # batch agg + bucket rollup
    "quality_ccnet_gate": 2,          # (lang,bin) histogram agg + the
                                      # <=101-row per-lang band window
                                      # (final lang rollup reuses the
                                      # lang partitioning)
    "linkage_blocked_match": 2,       # block-key candidate join +
                                      # argmin/report aggs; fixture-
                                      # scale dims auto-broadcast, at
                                      # scale the block join is SMJ
    "agg_kll_quantiles_mergeable": 3, # partial-grain sketch agg +
                                      # flag merge + exact-rank
                                      # verifier agg (estimates join
                                      # back broadcast)
    "agg_theta_setops_mergeable": 4,  # partial sketch agg + 1-row
                                      # union merge + custkey-flag agg
                                      # + 1-row exact counts
    "drift_weekly_value_hist": 6,     # ONE corpus histogram pass
                                      # (persisted), then window/self-
                                      # join/rollup plumbing over the
                                      # (types x weeks x 10-bin) frame
    "ann_pq_adc_rerank": 16,          # corpus-scale: code argmin
                                      # window + ADC partial agg +
                                      # shortlist window + the exact
                                      # VERIFIER side (fixture-only);
                                      # the rest is broadcast-LUT and
                                      # <=NQ-row verdict plumbing
    "xlsx_stream_ingest": 1,          # the post-replay 4-key agg; the
                                      # stream source itself is
                                      # per-file map tasks
    "dedup_semantic_clusters": 6,     # r14 two-level assignment: one
                                      # N-row shuffle per argmin level
                                      # (+K-row s2c agg) + cluster_id
                                      # repartition materialized once
                                      # (persisted) + self-join side
                                      # realignments — every Exchange
                                      # carries <= N rows; the r13 plan
                                      # shuffled the N*K crossJoin
                                      # through the argmin window;
                                      # computed ONCE, not 3x
    # r15 additions
    "ann_pq_trained": 16,             # same search DAG as
                                      # ann_pq_adc_rerank; the Lloyd
                                      # training iterations end at a
                                      # localCheckpoint so their
                                      # exchanges are not in the
                                      # returned plan
    "quality_gopher_lines": 0,        # line/paragraph rules are
                                      # row-local array HOFs, map-only
    "dedup_url_canonical": 1,         # ONE canonical_url window
                                      # (min + count in the same pass)
    "html_extract_boilerplate": 0,    # synthesize + mapInPandas
                                      # parser, map-only
    # r16 additions
    "ann_ivfpq_search": 21,           # the ann_pq_trained search DAG
                                      # (16) + coarse list assignment
                                      # (one vec_id agg), the codes x
                                      # candidates shuffle join, and
                                      # n_candidates rollup plumbing;
                                      # cells/probes/counts are
                                      # constant-size broadcasts
    "quality_domain_calibrated": 7,   # the NB scorer's featurize/fit
                                      # shuffles (r20: two fewer — map-
                                      # side scoring) + ONE (domain,
                                      # bin) corpus histogram; band
                                      # windows and the rollup run on
                                      # the constant-size hist frame
    "dedup_incremental_simhash": 4,   # batch signature agg + probe
                                      # shuffle into the store's
                                      # bucketing + candidate distinct
                                      # /rollup; history side is
                                      # Exchange-free (plan-asserted)
    "dedup_incremental_ngram": 5,     # batch shingle window + size
                                      # join + probe shuffle + pair
                                      # agg; history side Exchange-free
    "quality_gopher_composite": 0,    # the full rule set as row-local
                                      # array HOFs (top-bigram
                                      # multiplicity computed in-row,
                                      # not via a (doc,bigram) agg) —
                                      # map-only by contract
    "text_chunk_token_budget": 9,     # BPE training's word-count
                                      # shuffle + per-round vocab-sized
                                      # pair aggs/top-1 plumbing
                                      # (training subtree shared via the
                                      # persisted 1-row merges frame) +
                                      # the r17 long-doc branch's
                                      # per-document running-sum window
                                      # — the linear path for book-
                                      # length docs; short docs stay
                                      # map-only
    "text_chunk_token_budget_udtf": 8,  # same training subtree; the
                                        # UDTF lateral join is map-side
    "dedup_incremental_exact": 3,     # re-crawl synthesis join + probe
                                      # shuffle into the store bucketing
                                      # + per-doc rollup; history side
                                      # Exchange-free (plan-asserted)
    "dedup_incremental_semantic": 5,  # r18 coin-seeded two-level probe:
                                      # cents scalar reduction (cached,
                                      # SinglePartition of partials) +
                                      # c2g argmin agg + the coarse and
                                      # fine bounded top-n aggs (SLIM
                                      # (vec_id, embedding) shuffles —
                                      # the price of N*(C+K/C) evals
                                      # instead of N*K) + verdict
                                      # rollup; cents/c2g persisted so
                                      # their subtrees count once,
                                      # history side Exchange-free
    "quality_c4_filters": 0,          # line synth + line filter + page
                                      # verdict all row-local array
                                      # HOFs — map-only by contract
    "dedup_paragraph_ccnet": 2,       # meta-only hash window + per-doc
                                      # verdict rollup; paragraph TEXT
                                      # never shuffles (verdict side
                                      # broadcasts at this SF; one
                                      # text-side join exchange at
                                      # cluster scale)
    "filter_domain_blocklist": 2,     # suffix-hit rollup + verdict
                                      # re-join partials; blocklist
                                      # side is a broadcast equi-join
    "dedup_bloom_mergeable": 3,       # 16-group bit_or build + probe
                                      # rollup + corpus-key distinct;
                                      # filter + key set broadcast to
                                      # the probe side
    "pii_detect_documents": 0,        # four regex detectors + the
                                      # redaction chain are per-row
                                      # projections — map-only
    "contamination_ngram13": 2,       # benchmark gram distinct + the
                                      # per-doc dirty rollup; gram set
                                      # broadcasts, text never moves
    "drift_psi_reference": 6,         # ONE corpus-scale hist agg; the
                                      # other five move the constant
                                      # (type, week, bin) frames
                                      # (totals/grid/ref joins + the
                                      # psi rollup)
    "ts_cusum_changepoint": 2,        # daily-count agg + per-type
                                      # ordered collect; charts are
                                      # row-local array HOFs
    "drift_psi_shifted": 6,           # same plan as the reference
                                      # query, shifted bin projection
}


# pinned SF: the census is a plan-shape property, and AQE flips
# broadcast<->shuffle choices with data size — measuring at a fixed SF
# keeps the budgets stable under TEST_SF_DIR overrides
_BUDGET_SF = "/root/testdata/sf0.001"


def _final_exchange_ids(plan_text: str) -> set[str]:
    """Distinct shuffle-Exchange node ids in the plan TREE, skipping
    ``== Initial Plan ==`` blocks: when a persisted subtree has been
    AQE-materialized before the explain (e.g. a query whose store
    provisioning already ran its cents cache), the cached relation
    prints the SAME shuffle twice — once in its Final Plan and once in
    its Initial Plan — under different node ids, so counting raw
    detail-section ids double-counts every shuffle inside such a cache
    entry (first hit: r19's similarity guard made the semantic queries
    reuse the provision-time cents entry)."""
    ids: set[str] = set()
    skip_col: int | None = None
    for line in plan_text.splitlines():
        col = re.match(r"^[\s:|]*", line).end()
        body = line[col:]
        if not body.strip():
            continue
        if skip_col is not None:
            if col <= skip_col:
                skip_col = None
            else:
                continue
        if "== Initial Plan ==" in body:
            skip_col = col
            continue
        m = re.search(r"(?<![A-Za-z])Exchange \((\d+)\)", body)
        if m:
            ids.add(m.group(1))
    return ids


def test_final_exchange_census_skips_initial_plan_blocks():
    """The census helper must count a Final/Initial AQE pair ONCE and
    still catch a genuinely new shuffle outside the skipped block."""
    text = (
        "AdaptiveSparkPlan (9)\n"
        "+- Exchange (8)\n"
        "   +- InMemoryTableScan (1)\n"
        "         +- InMemoryRelation (2)\n"
        "               +- AdaptiveSparkPlan (7)\n"
        "                  +- == Final Plan ==\n"
        "                     ShuffleQueryStage (4)\n"
        "                     +- Exchange (3)\n"
        "                  +- == Initial Plan ==\n"
        "                     Exchange (6)\n"
        "                     +- BroadcastExchange (5)\n"
        "\n"
        "(3) Exchange\n(6) Exchange\n(8) Exchange\n"
    )
    assert _final_exchange_ids(text) == {"3", "8"}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_exchange_count_within_budget(name, spark):
    # earlier tests leave persisted frames in the CacheManager, which
    # substitutes InMemoryRelation into matching subtrees and changes
    # the Exchange census — measure the cold plan.
    spark.catalog.clearCache()
    df = registry.QUERIES[name](spark, _BUDGET_SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    n = len(_final_exchange_ids(buf.getvalue()))
    assert n <= BUDGETS[name], (
        f"{name}: {n} Exchanges, budget {BUDGETS[name]} — a shuffle was "
        f"added since the plan audit"
    )
