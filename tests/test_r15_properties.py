"""Third-implementation and edge checks for the r15 operators: the
DuckDB oracle and the Spark plan could share a misconception (the
same SQL idiom on both sides), so these recompute results with an
UNRELATED pure-Python reference on synthetic fixtures the oracle
never sees — including an engineered EMPTY CODEWORD for the trained
PQ (a duplicate seed whose cluster must vanish after one Lloyd
update), empty documents for the line rules, and tail-length blocks
for the boilerplate extractor."""

from __future__ import annotations

import math
import re

from pyspark.sql import Row

from etl_xlsx_potgres_spark import registry
from etl_xlsx_potgres_spark.sources.tables import SCHEMAS

registry.load_all()


def _write(spark, tmp_path, name, rows):
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    spark.createDataFrame(rows, SCHEMAS[name]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{tmp_path}/{name}.parquet")
    return str(tmp_path)


# ---------------------------------------------------------------- PQ


def _py_train(vecs, m_sub, sub_d, k, iters):
    """Pure-Python Lloyd over subspace slices, following the documented
    spec: sequential-left-fold double distances, (d2, k) argmin
    tie-break, floor(x*1e6) bigint member sums, exact double means,
    empty codewords vanish."""
    import numpy as np

    # the embedding column is float32 parquet: the engine folds the
    # float32-rounded values, so the reference must too
    subs = {
        (vid, m): [
            float(np.float32(x)) for x in v[m * sub_d:(m + 1) * sub_d]
        ]
        for vid, v in vecs.items()
        for m in range(m_sub)
    }
    cb = {
        (m, vid): list(subs[(vid, m)])
        for vid in vecs if vid < k
        for m in range(m_sub)
    }
    for _ in range(iters):
        members = {}
        for (vid, m), s in subs.items():
            best = None
            for (cm, ck), cs in cb.items():
                if cm != m:
                    continue
                d2 = 0.0
                for i in range(sub_d):
                    d2 = d2 + (s[i] - cs[i]) ** 2
                key = (d2, ck)
                if best is None or key < best[0]:
                    best = (key, ck)
            members.setdefault((m, best[1]), []).append(s)
        cb = {}
        for (m, ck), rows in members.items():
            n = len(rows)
            cb[(m, ck)] = [
                (sum(math.floor(r[i] * 1_000_000) for r in rows)) / n
                / 1_000_000.0
                for i in range(sub_d)
            ]
    return cb


def test_pq_train_matches_python_reference_with_empty_codeword(
    spark, tmp_path
):
    from etl_xlsx_potgres_spark.operators.ann import (
        M,
        PQ_K,
        SUB_D,
        TRAIN_ITERS,
        subvectors,
        train_codebook,
    )
    import pyspark.sql.functions as F

    # 14 vectors; vec 3 DUPLICATES vec 0, so codeword 3 ties with 0
    # everywhere, loses every (d2, k) tie-break, gets zero members,
    # and must VANISH from the trained codebook on both paths.
    def vec(seed):
        return [
            round(math.sin(seed * 64 + i) * 4, 3) for i in range(64)
        ]

    vecs = {i: vec(i) for i in range(14)}
    vecs[3] = list(vecs[0])
    rows = [
        Row(vec_id=i, embedding=[float(x) for x in v], label=i % 3)
        for i, v in vecs.items()
    ]
    sf = _write(spark, tmp_path, "embeddings", rows)

    from etl_xlsx_potgres_spark.sources import load_table

    emb = load_table(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    got = {
        (r["m"], r["k"]): [round(x, 9) for x in r["csub"]]
        for r in train_codebook(subvectors(emb)).collect()
    }
    want = {
        mk: [round(x, 9) for x in cs]
        for mk, cs in _py_train(vecs, M, SUB_D, PQ_K, TRAIN_ITERS).items()
    }
    assert set(got) == set(want)
    # the duplicate seed's codeword is gone in every subspace
    assert not any(k == 3 for _, k in got)
    for mk in want:
        assert got[mk] == want[mk], f"codeword {mk} diverged"


# ------------------------------------------------------- Gopher lines


def _py_gopher_lines(doc_id, text, line_tokens=8, para_lines=3):
    toks = [t for t in re.split(r"\s+", text.lower().strip()) if t]
    n_lines = (len(toks) + line_tokens - 1) // line_tokens
    lines = []
    for i in range(1, n_lines + 1):
        if doc_id % 5 == 0 and i % 2 == 0:
            lines.append(" ".join(toks[:line_tokens]))
        else:
            lines.append(
                " ".join(toks[(i - 1) * line_tokens:i * line_tokens])
            )
    n_paras = (len(lines) + para_lines - 1) // para_lines
    paras = []
    for p in range(1, n_paras + 1):
        if doc_id % 7 == 0 and p % 2 == 0:
            paras.append("\n".join(lines[:para_lines]))
        else:
            paras.append(
                "\n".join(lines[(p - 1) * para_lines:p * para_lines])
            )

    def stats(arr):
        n, nd = len(arr), len(set(arr))
        c = sum(len(x) for x in arr)
        cd = sum(len(x) for x in set(arr))
        f1 = (n - nd) / n if n else None
        f2 = (c - cd) / c if c else None
        return n, f1, f2

    nl, fl, flc = stats(lines)
    np_, fp, fpc = stats(paras)
    flag = any(
        v is not None and v > t
        for v, t in ((fl, 0.30), (flc, 0.20), (fp, 0.30), (fpc, 0.20))
    )
    return nl, np_, fl, flc, fp, fpc, flag


def test_gopher_lines_matches_python_reference(spark, tmp_path):
    docs = [
        Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
        for i, t in enumerate(
            [
                "",                       # no tokens -> no lines
                "one",
                " ".join(f"w{j % 4}" for j in range(9)),   # natural dups
                " ".join(f"u{j}" for j in range(40)),      # all distinct
                " ".join(f"u{j}" for j in range(100)),
                " ".join(["rep"] * 30),   # degenerate repetition
                "a b",
            ]
        )
    ] + [
        # ids 7..41 hit the %5 and %7 seeding lanes
        Row(
            doc_id=i,
            text=" ".join(f"t{(i * 7 + j) % 13}" for j in range(50)),
            lang="en", source="s0", n_chars=50,
        )
        for i in range(7, 42)
    ]
    sf = _write(spark, tmp_path, "documents", docs)
    got = {
        r["doc_id"]: (
            r["n_lines"], r["n_paras"],
            r["frac_dup_lines"], r["frac_chars_dup_lines"],
            r["frac_dup_paras"], r["frac_chars_dup_paras"],
            r["gopher_line_flagged"],
        )
        for r in registry.QUERIES["quality_gopher_lines"](
            spark, sf
        ).collect()
    }
    for d in docs:
        assert got[d.doc_id] == _py_gopher_lines(d.doc_id, d.text), (
            f"doc {d.doc_id}: {d.text[:40]!r}"
        )


# -------------------------------------------------- HTML extraction


def test_html_extractor_on_handwritten_html():
    """The parser must handle shapes the synthesizer never emits:
    nested anchors, entity references, a script between blocks, and a
    block whose only token is fully linked (density 1 -> dropped)."""
    import pandas as pd

    from etl_xlsx_potgres_spark.plans.html_extract import _extract_batches

    html = (
        "<html><body>"
        "<script>ignore('<p>not text</p>')</script>"
        '<p>alpha <a href="/l">beta</a> gamma</p>'
        '<nav><a href="/m">home page links</a></nav>'
        "<p>x &amp; y</p>"
        '<p><a href="/o">solo</a></p>'
        "</body></html>"
    )
    pdf = pd.DataFrame({"doc_id": [1], "html": [html]})
    out = list(_extract_batches([pdf]))[0].iloc[0]
    # blocks: p(alpha beta gamma: link 4/16) kept, nav dropped,
    # p(x & y: entity decoded, no link) kept, p(solo all-link) dropped
    assert out["n_blocks"] == 4
    assert out["n_kept"] == 2
    assert out["extracted_text"] == "alpha beta gamma x & y"
    assert out["link_chars"] == len("beta") + len("home page links") + len(
        "solo"
    )


def test_html_extractor_survives_malformed_html():
    """Real crawls are malformed: unclosed blocks, stray end tags,
    anchors crossing block boundaries. html.parser recovers without
    raising; the extractor must stay total (no exception, sane
    accounting) even when the markup lies."""
    import pandas as pd

    from etl_xlsx_potgres_spark.plans.html_extract import _extract_batches

    cases = [
        "<p>unclosed block",                    # never closed -> no block emitted
        "</p>stray close<p>ok</p>",
        "<p>a <a href=x>b</p> c</a>",           # anchor crosses the close
        "<nav><p>nested block</p></nav>",
        "<p>&notanentity; &amp; fine</p>",
        "",
        "no markup at all",
    ]
    pdf = pd.DataFrame(
        {"doc_id": list(range(len(cases))), "html": cases}
    )
    out = list(_extract_batches([pdf]))[0]
    assert len(out) == len(cases)
    for _, r in out.iterrows():
        assert r["n_kept"] <= r["n_blocks"]
        assert r["link_chars"] <= r["text_chars"]
        assert r["extracted_chars"] == len(r["extracted_text"])


def test_pq_training_reduces_quantization_error(spark, tmp_path):
    """The point of learned codebooks: on clusterable data, the
    trained codebook's total quantization error must be strictly
    below the seed codebook's (Lloyd's update minimizes within-cell
    SSE; floor-to-micro rounding is 6 decimals below the gap)."""
    import numpy as np
    import pyspark.sql.functions as F

    from etl_xlsx_potgres_spark.operators.ann import (
        M,
        PQ_K,
        SUB_D,
        subvectors,
        train_codebook,
    )
    from etl_xlsx_potgres_spark.sources import load_table

    rng = np.random.default_rng(11)
    cents = rng.normal(size=(20, 64)).astype(np.float32)
    assign = rng.integers(0, 20, size=200)
    vecs = (
        cents[assign] + 0.05 * rng.normal(size=(200, 64))
    ).astype(np.float32)
    rows = [
        Row(
            vec_id=int(i),
            embedding=[float(x) for x in v],
            label=int(assign[i]),
        )
        for i, v in enumerate(vecs)
    ]
    sf = _write(spark, tmp_path, "embeddings", rows)
    emb = load_table(spark, sf, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    subs = subvectors(emb)

    def total_err(cb_rows):
        cb = {}
        for r in cb_rows:
            cb.setdefault(r["m"], []).append(
                np.asarray(r["csub"], dtype=np.float64)
            )
        err = 0.0
        for m in range(M):
            sl = vecs[:, m * SUB_D:(m + 1) * SUB_D].astype(np.float64)
            cents_m = np.stack(cb[m])
            d2 = ((sl[:, None, :] - cents_m[None, :, :]) ** 2).sum(-1)
            err += d2.min(axis=1).sum()
        return err

    seed_rows = (
        subs.filter(F.col("vec_id") < PQ_K)
        .select("m", F.col("vec_id").alias("k"), F.col("sub").alias("csub"))
        .collect()
    )
    trained_rows = train_codebook(subs).collect()
    e_seed, e_trained = total_err(seed_rows), total_err(trained_rows)
    assert e_trained < e_seed * 0.9, (
        f"training failed to reduce error: seed={e_seed:.2f}"
        f" trained={e_trained:.2f}"
    )
