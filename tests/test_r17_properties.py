"""r17 property checks.

Hot-band occupancy cap: web corpora produce degenerate LSH band
buckets (boilerplate pages share whole signatures), and an uncapped
banded self-join is quadratic in bucket occupancy.  These tests build
exactly that pathology — one signature shared by 40 documents, so
every band bucket holds 40 docs — and assert the capped geometry
(operators.lsh.BAND_CAP) bounds candidates at C(cap, 2) per bucket,
keeps the deterministic smallest-doc_id survivors, reports the
clipping as data, and still matches the DuckDB oracle bit-for-bit on
the same synthetic fixture (the cap is part of BOTH engines' query,
not a Spark-side heuristic).
"""

from __future__ import annotations

import duckdb
from pyspark.sql import Row

from etl_xlsx_potgres_spark import registry
from etl_xlsx_potgres_spark.operators.lsh import BAND_CAP
from etl_xlsx_potgres_spark.sources.tables import SCHEMAS

from .oracle_utils import assert_frames_match

registry.load_all()

_HOT_N = 40
_HOT_TEXT = "alpha beta gamma delta epsilon zeta"


def _hot_band_fixture(spark, tmp_path) -> str:
    rows = [
        Row(
            doc_id=i,
            text=_HOT_TEXT,
            lang="en",
            source="web",
            n_chars=len(_HOT_TEXT),
        )
        for i in range(_HOT_N)
    ]
    # distinct tail docs: unique signatures, occupancy-1 buckets
    for i in range(_HOT_N, _HOT_N + 4):
        t = f"unique{i} words here all different token{i} tail{i}"
        rows.append(
            Row(doc_id=i, text=t, lang="en", source="web", n_chars=len(t))
        )
    spark.createDataFrame(rows, SCHEMAS["documents"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def _oracle_pdf(sf_dir: str, name: str):
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    out = con.sql(registry.ORACLES[name]).df()
    con.close()
    return out


def test_hot_band_candidates_bounded_by_cap(spark, tmp_path):
    sf = _hot_band_fixture(spark, tmp_path)
    pairs = registry.QUERIES["dedup_minhash_lsh_pairs"](spark, sf).collect()
    # uncapped, the 40-doc bucket would emit C(40,2) = 780 pairs;
    # capped+starred (ADVICE r17), exactly C(cap,2) join pairs among
    # the cap smallest doc_ids PLUS a linear star edge from the
    # bucket leader (doc 0) to every clipped member
    expected = BAND_CAP * (BAND_CAP - 1) // 2 + (_HOT_N - BAND_CAP)
    assert len(pairs) == expected
    survivors = set(range(BAND_CAP))
    clipped = set(range(BAND_CAP, _HOT_N))
    star_targets = set()
    for r in pairs:
        assert r.n_shared_bands == 4  # identical signature -> all bands
        if r.d2 in clipped:
            assert r.d1 == 0  # star edges come from the bucket leader
            star_targets.add(r.d2)
        else:
            assert r.d1 in survivors and r.d2 in survivors
    # EVERY clipped member keeps an edge into the cluster — the exact
    # connectivity the r17 advice showed clipping alone severed
    assert star_targets == clipped


def test_hot_band_stats_report_clipping(spark, tmp_path):
    sf = _hot_band_fixture(spark, tmp_path)
    stats = {
        r.occupancy: r
        for r in registry.QUERIES["dedup_minhash_band_stats"](spark, sf).collect()
    }
    hot = stats[_HOT_N]
    assert hot.n_buckets == 4  # all 4 bands degenerate
    assert hot.n_docs == 4 * _HOT_N
    assert hot.n_docs_kept == 4 * BAND_CAP
    assert hot.n_docs_clipped == 4 * (_HOT_N - BAND_CAP)
    assert hot.pairs_uncapped == 4 * (_HOT_N * (_HOT_N - 1) // 2)
    assert hot.pairs_capped == 4 * (BAND_CAP * (BAND_CAP - 1) // 2)
    assert hot.pairs_star == 4 * (_HOT_N - 1)
    assert hot.pairs_effective == 4 * (
        BAND_CAP * (BAND_CAP - 1) // 2 + (_HOT_N - BAND_CAP)
    )
    # the distinct tail docs sit in occupancy-1 buckets, unclipped
    assert stats[1].n_docs_clipped == 0 and stats[1].pairs_capped == 0
    assert stats[1].pairs_star == 0 and stats[1].pairs_effective == 0


def test_hot_band_cluster_stays_connected(spark, tmp_path):
    """ADVICE r17 (medium): 40 byte-identical docs share every band
    bucket, so under clipping alone docs BAND_CAP..39 lost every edge
    and the components query left exact duplicates as singletons. With
    star edges the whole cluster must close into ONE component with
    one canonical pick."""
    sf = _hot_band_fixture(spark, tmp_path)
    comp = {
        r.doc_id: r
        for r in registry.QUERIES["dedup_connected_components"](
            spark, sf
        ).collect()
    }
    hot = [comp[i] for i in range(_HOT_N) if i in comp]
    assert len(hot) == _HOT_N, "clipped duplicates missing from closure"
    assert {r.component for r in hot} == {0}
    assert sum(r.is_canonical for r in hot) == 1
    assert all(r.n_docs == _HOT_N for r in hot)


def test_hot_band_oracle_parity_on_synthetic_fixture(spark, tmp_path):
    sf = _hot_band_fixture(spark, tmp_path)
    for name in (
        "dedup_minhash_lsh_pairs",
        "dedup_minhash_band_stats",
        "dedup_connected_components",
    ):
        spark_pdf = registry.QUERIES[name](spark, sf).toPandas()
        assert_frames_match(spark_pdf, _oracle_pdf(sf, name), name)


def test_capped_band_rows_is_deterministic_smallest_ids(spark, tmp_path):
    from pyspark.sql import functions as F

    from etl_xlsx_potgres_spark.operators.lsh import (
        capped_band_rows,
        minhash_signatures,
    )
    from etl_xlsx_potgres_spark.sources import load_table

    sf = _hot_band_fixture(spark, tmp_path)
    d = load_table(spark, sf, "documents")
    sig = minhash_signatures(d).filter(F.col("mh0").isNotNull())
    kept = (
        capped_band_rows(sig)
        .filter(F.col("doc_id") < _HOT_N)
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert sorted(r.doc_id for r in kept) == list(range(BAND_CAP))


# ------------------------------------------------------- language ID

def test_lang_id_is_not_degenerate(spark, sf_dir):
    """r16 verdict: the identifier routed 100% of documents to 'en'
    because the raw fixture text is language-neutral. The r17 in-query
    localization must yield a NON-TRIVIAL audit: several predicted
    classes, a dominant diagonal, and (for the marker cascade) at
    least one off-diagonal cell (the seeded confusables — 'des',
    'la', 'de' — plus low-signal docs), on every fixture SF."""
    rows = registry.QUERIES["text_lang_confusion"](spark, sf_dir).collect()
    methods = {r.method for r in rows}
    assert methods == {"marker", "trigram"}
    marker = [r for r in rows if r.method == "marker"]
    assert [r for r in marker if not r.is_correct], (
        "marker confusion matrix has no off-diagonal mass"
    )
    for method in methods:
        cells_m = [r for r in rows if r.method == method]
        predicted = {r.predicted_lang for r in cells_m}
        assert len(predicted) >= 3, f"degenerate {method}: {predicted}"
        # diagonal dominance: every label's top prediction is itself
        by_label = {}
        for r in cells_m:
            by_label.setdefault(r.labeled_lang, []).append(r)
        for label, cells in by_label.items():
            best = max(cells, key=lambda r: r.n_docs)
            assert best.predicted_lang == label, (
                f"{method}/{label}: majority routed to {best.predicted_lang}"
            )


def test_trigram_profile_dominates_marker_cascade(spark, sf_dir):
    """VERDICT r17 task 5's done-criterion: the trained char-trigram
    profile's diagonal must dominate the marker cascade's — per label
    at least as many correct documents, strictly more in total (the
    exclusivity gate recovers cascade-confusable docs; the cascade
    backoff makes regression impossible by construction, so a strict
    win proves the profile path actually fires)."""
    rows = registry.QUERIES["text_lang_confusion"](spark, sf_dir).collect()
    diag = {"marker": {}, "trigram": {}}
    for r in rows:
        if r.is_correct:
            diag[r.method][r.labeled_lang] = r.n_docs
    labels = set(diag["marker"]) | set(diag["trigram"])
    for lab in labels:
        assert diag["trigram"].get(lab, 0) >= diag["marker"].get(lab, 0), (
            f"{lab}: trigram {diag['trigram'].get(lab, 0)} < "
            f"marker {diag['marker'].get(lab, 0)}"
        )
    assert sum(diag["trigram"].values()) > sum(diag["marker"].values())


def test_lang_localization_never_sees_label_in_classifier(spark, sf_dir):
    """The prediction must be a pure function of the derived text: two
    docs with identical localized text get identical predictions
    regardless of label (guards against the classifier accidentally
    keying on the `lang` column)."""
    from pyspark.sql import functions as F

    from etl_xlsx_potgres_spark.operators.lang import localized_text
    from etl_xlsx_potgres_spark.sources import load_table

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", localized_text().alias("text")
    )
    preds = registry.QUERIES["text_lang_id"](spark, sf_dir)
    joined = preds.join(d.select("doc_id", "text"), "doc_id")
    groups = (
        joined.groupBy("text")
        .agg(F.countDistinct("predicted_lang").alias("n_preds"))
        .filter(F.col("n_preds") > 1)
        .count()
    )
    assert groups == 0


# -------------------------------------------- token-budget chunk gate

def _long_doc_fixture(spark, tmp_path) -> str:
    """Mixed corpus around the LONG_DOC_WORDS gate: short docs (HOF
    path), one doc exactly at the gate and two book-length docs
    (window path) — all deterministic text so BPE training and
    chunking reproduce bit-for-bit."""
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta"]

    def words(n, salt):
        return " ".join(vocab[(salt + i) % len(vocab)] for i in range(n))

    from etl_xlsx_potgres_spark.plans.chunk_token_budget import (
        LONG_DOC_WORDS,
    )

    lengths = [30, 75, LONG_DOC_WORDS - 1, LONG_DOC_WORDS,
               LONG_DOC_WORDS + 333, 4 * LONG_DOC_WORDS]
    rows = []
    for i, n in enumerate(lengths):
        t = words(n, i)
        rows.append(
            Row(doc_id=i, text=t, lang="en", source="web", n_chars=len(t))
        )
    spark.createDataFrame(rows, SCHEMAS["documents"]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/documents.parquet")
    return str(tmp_path)


def test_chunk_gate_long_docs_match_udtf_twin(spark, tmp_path):
    """The explode+window long-doc path must reproduce the UDTF twin
    byte-for-byte (same floor-div rule, same merge semantics) on docs
    straddling the gate — chunk ids, counts and rebuilt text."""
    sf = _long_doc_fixture(spark, tmp_path)
    jvm = registry.QUERIES["text_chunk_token_budget"](spark, sf).toPandas()
    udtf = registry.QUERIES["text_chunk_token_budget_udtf"](
        spark, sf
    ).toPandas()
    assert_frames_match(jvm, udtf, "chunk_gate_twin")
    # both physical paths genuinely exercised: chunks exist for docs on
    # each side of the gate
    assert (jvm["doc_id"] < 3).any() and (jvm["doc_id"] >= 3).any()


def test_chunk_gate_rebuild_roundtrip(spark, tmp_path):
    """Concatenating each long doc's chunk_text in chunk order must
    rebuild the document exactly (the order-sensitive collect_list +
    struct sort in the window path is the risky piece)."""
    sf = _long_doc_fixture(spark, tmp_path)
    out = registry.QUERIES["text_chunk_token_budget"](spark, sf).toPandas()
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    for doc_id, grp in out.groupby("doc_id"):
        rebuilt = " ".join(
            grp.sort_values("chunk_id")["chunk_text"].tolist()
        )
        assert rebuilt == docs[doc_id].lower(), f"doc {doc_id} mangled"


# ------------------------------------------------- ANN operating curve

def test_ann_curve_ivf_recall_monotone_in_probes(spark, sf_dir):
    """For the IVF method the candidate set grows with n_probe and the
    rerank is by exact score with a total-order tiebreak, so overlap
    with the exact top-k is mathematically non-decreasing — a strict
    decrease means the level filter or the shared scored frame is
    broken. (IVF-PQ is NOT asserted monotone: its shortlist is ranked
    by quantized ADC distance, so more candidates can displace a true
    neighbor from the shortlist.)"""
    rows = registry.QUERIES["ann_recall_curve"](spark, sf_dir).collect()
    ivf = sorted(
        ((r.n_probe, r.n_hits) for r in rows if r.method == "ivf")
    )
    hits = [h for _, h in ivf]
    assert hits == sorted(hits), f"ivf hits not monotone: {ivf}"
    cands = sorted(
        ((r.n_probe, r.n_candidates) for r in rows if r.method == "ivf")
    )
    c = [x for _, x in cands]
    assert c == sorted(c) and c[0] < c[-1], f"candidate axis broken: {cands}"


def test_ann_curve_shortlist_recall_monotone(spark, sf_dir):
    """r18 (VERDICT r17 task 4): along the SHORTLIST axis the
    exact-rerank candidate set grows with s and the rerank is by exact
    distance with a total-order tiebreak, so overlap with the exact
    top-k is mathematically non-decreasing — unlike the ADC shortlist
    itself, the rerank axis IS monotone.  The deepest shortlist row
    and the deepest probe row are the SAME operating point computed
    through different plan paths and must agree on hits."""
    from etl_xlsx_potgres_spark.plans.ann_recall_curve import (
        _MAX_PROBE,
        SHORTLIST_LEVELS,
    )
    from etl_xlsx_potgres_spark.operators.ann import SHORTLIST

    rows = registry.QUERIES["ann_recall_curve"](spark, sf_dir).collect()
    # the shortlist-axis rows: swept s at fixed deepest probe,
    # excluding the probe-axis anchor row (same coordinates, ADC cost)
    by_axis = {}
    for r in rows:
        if r.method == "ivfpq":
            by_axis.setdefault(
                (r.n_probe, r.shortlist), []
            ).append(r)
    sweep = sorted(
        (s, by_axis[(_MAX_PROBE, s)]) for s in SHORTLIST_LEVELS
    )
    hits_by_s = []
    for s, cell in sweep:
        if s == SHORTLIST:
            assert len(cell) == 2, "probe/shortlist anchor rows missing"
            assert cell[0].n_hits == cell[1].n_hits, (
                "the two plan paths disagree at the shared operating point"
            )
        hits_by_s.append(cell[0].n_hits)
        # cost axis: the rerank volume is bounded by NQ * s (import
        # the real constant — a hardcoded 10 silently loosens or
        # spuriously trips if the query-set size changes)
        from etl_xlsx_potgres_spark.operators.ann import N_QUERIES as NQ

        assert min(r.n_candidates for r in cell) <= NQ * s
    assert hits_by_s == sorted(hits_by_s), (
        f"shortlist hits not monotone: {hits_by_s}"
    )
