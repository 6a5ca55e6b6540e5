"""PQ asymmetric-distance search (ADC) with exact re-rank — the
query path of an IVF-PQ index (Jegou et al. 2011), completing
``product_quantization``'s encode side: at search time each query
builds a (M x K) lookup table of subspace distances to the
codewords, every database vector's approximate distance is then M
TABLE LOOKUPS summed over its stored codes — the corpus's raw
floats are never touched — and the ADC shortlist is re-ranked with
exact distances (the standard two-stage recipe: cheap scan, exact
tail).

Scale shape: the LUT is NQ x M x K rows (~320 here) — a broadcast
at any corpus size; the ADC pass is a broadcast join + map-side sum
over the (vec_id, m, code) frame, linear in N x M with no raw-vector
movement (codes are 32:1 compressed); exact distances are computed
for SHORTLIST candidates per query, never the corpus. The full-corpus
exact top-k computed alongside is the recall VERIFIER — at production
scale you run only the ADC+re-rank side.

Honesty note: the synthetic fixture's uniform random vectors are
PQ's adversarial case (pairwise distances concentrate, so the
K=8-codeword quantization error swamps the neighbor gaps): measured
recall@5 after re-rank is ~0.7 overall with zero-hit queries
possible. The per-query hit count is therefore emitted as DATA
(``n_hits_exact``, hash-checked against the oracle) rather than
dressed up as a pass/fail verdict; production deployments use
K=256 codebooks learned by k-means over clustered real embeddings,
where the same plan shape delivers >0.95. The search itself is
``operators.ann.adc_rerank``; its fold, micro-unit and tie-break
contract is stated once in ``operators/ann.py``.

Reference lifecycle note: the reference has no vector surface
(``etl_process.py:1-235``); this completes the mandated similarity
stack's production path: encode (``emb_pq_encode``) -> SEARCH.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.ann import (
    SQL_SEED_CODEBOOK,
    adc_rerank,
    seed_codebook,
    sql_adc_search,
    subvectors,
)
from ..operators.vectors import valid_vecs
from ..registry import register
from ..sources import load_table


@register("ann_pq_adc_rerank", oracle=sql_adc_search(SQL_SEED_CODEBOOK))
def ann_pq_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = valid_vecs(load_table(spark, sf_dir, "embeddings"))
    subs = subvectors(emb)
    codebook = seed_codebook(subs)
    return adc_rerank(emb, subs, codebook)
