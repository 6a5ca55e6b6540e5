"""Automatic physical-plan lint over EVERY registered query — the
anti-patterns that silently cost 100x at 100 TB must not creep into
any plan, not just the hand-audited headline ones:

- ``BatchEvalPython`` (row-at-a-time Python UDF): never. Python on
  the hot path is only acceptable Arrow-batched
  (``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``
  / ``FlatMapCoGroupsInPandas``), and only where declared below.
- ``CartesianProduct``: never. Even the exact-ANN baseline plans as
  a BroadcastNestedLoopJoin at test SF, where Catalyst sizes its
  corpus side under the broadcast threshold; an all-pairs join that
  broadcasts neither side is a plan regression.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from etl_xlsx_potgres_spark import registry

registry.load_all()

# Queries whose plans legitimately contain an Arrow-batched Python
# stage. Everything else must be pure JVM expressions.
ARROW_PYTHON_OK = {
    "udaf_price_trend_per_customer",   # grouped-map UDAF
    "pandas_udf_risk_score",           # vectorized scalar pandas UDF
    "join_asof_cogrouped",             # cogrouped merge_asof
    "dedup_embedding_lsh",             # Arrow-batched candidate verify
    "mm_decode_image_meta",            # mapInPandas decode stages
    "mm_decode_image_real",
    "mm_decode_audio_real",
    "mm_frame_sample",                 # downstream of decode stage
    "mm_binaryfile_ingest",            # binaryFile drop -> mapInPandas decode
    "mm_audio_features",               # mapInPandas WAV feature extraction
    "mm_image_resize",                 # mapInPandas BMP parse + downsample
    "ann_ml_brp_lsh",                  # MLlib LSH model transform
    "text_chunk_udtf",                 # Arrow-optimized Python UDTF
                                       # (ArrowEvalPythonUDTF): the
                                       # table-function extensibility
                                       # demo; map-side only, no
                                       # shuffle introduced
    "text_tokcount_arrow",             # raw-Arrow mapInArrow demo:
                                       # pyarrow.compute kernels, no
                                       # pandas conversion, map-only
    "html_extract_boilerplate",        # stdlib html.parser boilerplate
                                       # strip — genuine Python work,
                                       # Arrow-batched, map-only
    "text_chunk_token_budget_udtf",    # Arrow UDTF twin of the JVM
                                       # token-budget chunker (shared
                                       # oracle pins them); map-side
                                       # fan-out only
    "mm_clip_pair_filter",             # caption-tower hash projection:
                                       # the 64-fold JVM HOF form
                                       # measured 26s at sf0.1 (never
                                       # reaches codegen); the Arrow
                                       # batch is 45x faster, map-only
}

_ARROW_NODES = (
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInArrow",
)


def _plan(spark, sf_dir: str, name: str) -> str:
    df = registry.QUERIES[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_plan_has_no_scale_antipatterns(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in the plan"
    )
    assert "CartesianProduct" not in plan, (
        f"{name}: unguarded all-pairs join in the plan"
    )
    if name not in ARROW_PYTHON_OK:
        hit = next((n for n in _ARROW_NODES if n in plan), None)
        assert hit is None, (
            f"{name}: unexpected Python stage {hit} — add to "
            "ARROW_PYTHON_OK only with a scale justification"
        )
