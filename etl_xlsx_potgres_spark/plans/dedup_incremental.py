"""Incremental (cross-run) dedup — the production shape the batch
dedup queries don't cover: each new ingest batch must be checked
against the ENTIRE corpus already accepted, without re-shuffling
history.

Design (the bucketed-signature-store pattern):

1. History's MinHash LSH band keys (``plans/dedup_fuzzy.py``: 4
   bands x 2 rows over the 8-hash signature, fused here into one
   single-column key ``band = md5(band_id || ':' || band_key)``)
   are written ONCE as a parquet table ``bucketBy(N, band)`` +
   ``sortBy(band)`` — the shuffle on history is paid at write time
   and amortized over every future batch (the
   ``plans/bucketed_join.py`` layout-as-operator move applied to
   dedup state).
2. A new batch computes its own band keys (map-only after one
   signature shuffle) and probes the store: Spark shuffles ONLY the
   batch side into the store's bucketing; the history scan has no
   Exchange (asserted in ``tests/test_dedup_incremental.py``). At
   100 TB of history and a 0.1% daily batch this is the difference
   between re-shuffling 100 TB per run and shuffling ~100 GB.
3. Emit per new-batch document the number of distinct historical
   near-dup candidates and the keep/drop verdict; accepted docs'
   signatures would then be APPENDED to the store (parquet bucketed
   tables append per-bucket files without rewriting history).

Fixture split: history = ``doc_id % 10 != 0``, new batch =
``doc_id % 10 = 0`` — a deterministic 90/10 split both engines
reproduce. Documents too short to sign (< 3 tokens, NULL signature)
cannot collide and are kept, matching the oracle's left join.

The DuckDB oracle recomputes the same bands on both sides and
counts distinct history matches per new doc — any bucket-routing
bug (a band key hashed to the wrong bucket drops its collisions)
flips the counts.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table
from ..operators.text import sql_minhash_exprs
from .dedup_fuzzy import _minhash_sig_df

N_BUCKETS = 8

_STORE_PREFIX = "spark_graft_dedup_store_"
# Siblings older than this are presumed crashed sessions (a live
# concurrent session's store was written minutes ago, not a day).
_STALE_SECONDS = 24 * 3600
_CLEANUP_REGISTERED: set[str] = set()


def _sweep_stale_siblings(current_root: str) -> None:
    """Remove sibling store dirs left by CRASHED sessions (atexit never
    ran).  Only age-stale siblings are touched — a same-host concurrent
    session's fresh store must survive, so appId-mismatch alone is not
    grounds for deletion."""
    parent = os.path.dirname(current_root)
    now = time.time()
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for e in entries:
        p = os.path.join(parent, e)
        if not e.startswith(_STORE_PREFIX) or p == current_root:
            continue
        try:
            stale = now - os.path.getmtime(p) > _STALE_SECONDS
        except OSError:
            continue
        if stale:
            shutil.rmtree(p, ignore_errors=True)


def _store_root(spark: SparkSession) -> str:
    """Per-session store root: two concurrent sessions on one host
    (parallel test/bench runs) must not drop/overwrite each other's
    external-table files mid-read, so key the directory on the Spark
    applicationId — unique per session, stable across repeated runs
    within it (the provisioner is idempotent per SF).  First touch per
    root registers an atexit rmtree (no /tmp leak per session) and
    sweeps age-stale siblings from crashed sessions."""
    app = spark.sparkContext.applicationId.replace("-", "_")
    root = os.path.join(tempfile.gettempdir(), f"{_STORE_PREFIX}{app}")
    if root not in _CLEANUP_REGISTERED:
        _CLEANUP_REGISTERED.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _sweep_stale_siblings(root)
    return root


def _bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band): 4 LSH bands fused to one join key per row."""
    band_structs = F.array(
        *[
            F.md5(
                F.concat(
                    F.lit(f"{i}:"),
                    F.md5(F.concat(F.col(f"mh{2 * i}"), F.col(f"mh{2 * i + 1}"))),
                )
            )
            for i in range(4)
        ]
    )
    return sig.filter(F.col("mh0").isNotNull()).select(
        "doc_id", F.explode(band_structs).alias("band")
    )


def _duck_bands(where: str) -> str:
    """DuckDB twin of :func:`_bands` over ``documents`` rows matching
    ``where`` (band_id fused into the key exactly as Spark does)."""
    mh = ", ".join(sql_minhash_exprs("text"))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, md5('{i}:' || md5(mh{2 * i} || mh{2 * i + 1})) AS band"
        f" FROM sig_{where_tag(where)}"
        for i in range(4)
    )
    return (
        f"sig_{where_tag(where)} AS ("
        f"SELECT doc_id, {mh} FROM documents WHERE ({where})"
        f" AND len(list_filter(string_split_regex(trim(lower(text)),"
        f" '\\s+'), x -> x <> '')) >= 3), "
        f"bands_{where_tag(where)} AS ({bands})"
    )


def where_tag(where: str) -> str:
    return "hist" if "!=" in where or "<>" in where else "new"


_ORACLE = f"""
    WITH {_duck_bands("doc_id % 10 <> 0")},
    {_duck_bands("doc_id % 10 = 0")},
    hits AS (
      SELECT n.doc_id, COUNT(DISTINCT h.doc_id) AS n_hist_candidates
      FROM bands_new n JOIN bands_hist h ON h.band = n.band
      GROUP BY n.doc_id
    )
    SELECT d.doc_id,
           COALESCE(hits.n_hist_candidates, 0) AS n_hist_candidates,
           COALESCE(hits.n_hist_candidates, 0) = 0 AS keep
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
    LEFT JOIN hits ON hits.doc_id = d.doc_id
"""


def _provision_store(spark: SparkSession, sf_dir: str) -> str:
    """History band store as a bucketed+sorted external table
    (idempotent per SF; catalog entry re-registered per session;
    r20: built once per session — later consumers reuse it via the
    provision cache, the serve-side posture)."""
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    name = f"dedup_band_store_{sf.replace('.', '_').replace('-', '_')}"

    def build() -> None:
        path = os.path.join(_store_root(spark), name)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        d = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 10 != 0
        )
        (
            # cluster by the bucket column first (r20): a bucketed
            # write emits one file per (upstream task x bucket), so a
            # wide upstream (e.g. a multi-row-group scan) would leave
            # multi-file buckets — which demotes the auto-bucketed
            # scan and costs every probe its Exchange-free plan. The
            # repartition maps each bucket to exactly one task (same
            # Murmur3 hash), so the store is born with single sorted
            # runs regardless of upstream width.
            _bands(_minhash_sig_df(d))
            .repartition(N_BUCKETS, "band")
            .write.mode("overwrite")
            .bucketBy(N_BUCKETS, "band")
            .sortBy("band")
            .option("path", path)
            .format("parquet")
            .saveAsTable(name)
        )

    return cached_table(spark, name, os.path.abspath(sf_dir), build)


def append_to_store(name: str, frame: DataFrame) -> None:
    """APPEND an accepted batch's rows to an existing bucketed store
    WITHOUT rewriting history — the lifecycle step the module
    docstring's point 3 promises, now code: a spec-compatible bucketed
    append shuffles ONLY the batch into the store's bucketing and
    writes per-bucket files next to the existing ones.  The bucketed
    scan and its Exchange-free probe guarantee survive (each bucket
    simply reads one more file; within-bucket sort becomes per-file,
    which costs a local Sort in a merge join but never an Exchange —
    asserted in ``tests/test_r19_properties.py``; ``compact_store``
    merges the per-bucket files back to single sorted runs).  At
    100 TB of history and a 0.1% daily batch this is the write-side
    twin of the probe-side promise: history bytes are written once,
    ever.  The append spec (bucket count, bucket/sort columns) is
    parsed from the store's OWN catalog entry in one DESCRIBE pass
    (ADVICE r19) — a store created with any bucket count or sort spec
    appends correctly, with no module-constant assumption.  An append
    also DROPS the table's provision-cache entry: the cache's premise
    is "content == the deterministic build from this fixture", which
    a mutation breaks — the next provisioning consumer rebuilds the
    canonical store instead of silently serving the mutated one."""
    from pyspark.sql import SparkSession

    n_buckets, bucket_cols, sort_cols, _ = _bucket_spec_of(name)
    (
        frame.write.mode("append")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .format("parquet")
        .saveAsTable(name)
    )
    invalidate_cached_table(SparkSession.getActiveSession(), name)


def _parse_cols(spec: str) -> list[str]:
    """['`a`, `b`]' -> ['a', 'b'] (DESCRIBE's column-list rendering)."""
    inner = spec.strip().strip("[]")
    return [c.strip().strip("`") for c in inner.split(",") if c.strip()]


def _bucket_spec_of(
    name: str,
) -> tuple[int, list[str], list[str], str | None]:
    """(num buckets, bucket columns, sort columns, location) from ONE
    ``DESCRIBE TABLE EXTENDED`` pass over the catalog entry — appends
    and compactions must match the existing spec exactly or Spark
    rejects the write."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    n_buckets, bucket_cols, sort_cols, location = None, None, [], None
    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect():
        if row.col_name == "Num Buckets":
            n_buckets = int(row.data_type)
        elif row.col_name == "Bucket Columns":
            bucket_cols = _parse_cols(row.data_type)
        elif row.col_name == "Sort Columns":
            sort_cols = _parse_cols(row.data_type)
        elif row.col_name == "Location":
            location = row.data_type
    if n_buckets is None or not bucket_cols:
        raise ValueError(f"{name} is not a bucketed table")
    return n_buckets, bucket_cols, sort_cols, location


def compact_store(name: str, rewrite=None) -> str:
    """Per-bucket file merge for an appended store (VERDICT r19 task
    5): each append leaves one more file per bucket, which (a) demotes
    the bucketed scan's reported output ORDERING — Spark only treats a
    bucketed scan as pre-sorted when every bucket holds exactly one
    file, so merge joins regain a local per-partition Sort (never an
    Exchange) — and (b) lets write-time denormalized columns go stale
    (the semantic store's vrank/cell_n; see
    ``dedup_incremental_more.compact_semantic_store``).  Compaction
    restores the one-shot layout WITHOUT a shuffle: the bucketed scan
    yields one task per bucket (all of the bucket's files), the
    optional ``rewrite`` hook recomputes rank columns with a window
    PARTITIONED ON THE BUCKET COLUMN (clustering already satisfied by
    the scan — a local sort, no Exchange), and the bucketed write
    re-clusters nothing because each task already holds exactly one
    bucket — so it emits ONE file per bucket.  The merged store is
    written to a fresh path and swapped in under the same catalog
    name; history bytes move once per compaction, never through a
    shuffle.  At 100 TB this is the classic LSM-style maintenance
    job: amortized over the appends it absorbs, scheduled off the
    serving path.

    Note: Spark only LEVERAGES the restored single-run sort order
    when ``spark.sql.legacy.bucketedTableScan.outputOrdering`` is on
    (planning-time file listing; off by default since 3.0) — with it,
    a merge join against a compacted store drops its local Sort
    entirely (pinned in ``tests/test_r20_properties.py``); without
    it the merge join keeps a local per-partition Sort over now
    single-run input, still with no Exchange."""
    import uuid

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    n_buckets, bucket_cols, sort_cols, location = _bucket_spec_of(name)
    df = spark.table(name)
    if rewrite is not None:
        df = rewrite(df)
    tmp = f"{name}_compacting"
    new_path = f"{location}_c{uuid.uuid4().hex[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {tmp}")
    # Without an operator that REQUIRES the bucket distribution, the
    # auto-bucketed-scan rule demotes the read to a size-split file
    # scan — tasks then span buckets and the bucketed write splits
    # each task's rows back out, emitting tasks x buckets files.
    # Pinning the bucketed scan gives one task per bucket (all of its
    # files), so the write emits exactly ONE file per bucket and the
    # whole compaction stays shuffle-free.
    auto_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(auto_key, "true")
    spark.conf.set(auto_key, "false")
    try:
        (
            df.write.mode("overwrite")
            .bucketBy(n_buckets, *bucket_cols)
            .sortBy(*(sort_cols or bucket_cols))
            .option("path", new_path)
            .format("parquet")
            .saveAsTable(tmp)
        )
    finally:
        spark.conf.set(auto_key, prev)
    spark.sql(f"DROP TABLE {name}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {name}")
    if location and location.startswith("file:"):
        shutil.rmtree(location[len("file:"):], ignore_errors=True)
    return name


# Session-scoped provision cache (VERDICT r19 task 3 — the build/serve
# split's serve half): the store provisioners are deterministic per
# (session, fixture dir), so a query that only READS a store must not
# pay the build again — within one session the first consumer builds,
# every later consumer reuses the catalog entry.  This is the
# incremental stack's premise made operational: at 100 TB the build is
# a scheduled provisioning job and every serving query is a probe.
# Keyed on the applicationId (a new session always rebuilds) AND the
# absolute fixture path (two fixture dirs sharing a basename collide
# on table NAME — the second build overwrites, and the cache entry
# follows it).
_PROVISION_CACHE: dict[tuple[str, str], str] = {}


def cached_table(
    spark: SparkSession, name: str, key: str, build, force: bool = False
) -> str:
    """Return table ``name``, building it via ``build()`` (which must
    create the catalog entry) unless this session already built it
    from the same ``key`` (the absolute fixture path).  ``force=True``
    rebuilds unconditionally and refreshes the cache entry — the
    provision-side queries use it so the BUILD cost they exist to
    measure is actually paid on every invocation."""
    app = spark.sparkContext.applicationId
    if (
        not force
        and _PROVISION_CACHE.get((app, name)) == key
        and spark.catalog.tableExists(name)
    ):
        return name
    build()
    _PROVISION_CACHE[(app, name)] = key
    return name


def invalidate_cached_table(spark: SparkSession, name: str) -> None:
    """Drop a provision-cache entry (lifecycle tests that APPEND to a
    shared-name store must not leak the mutated store to later cached
    reads)."""
    _PROVISION_CACHE.pop((spark.sparkContext.applicationId, name), None)


@register("dedup_incremental_newbatch", oracle=_ORACLE)
def dedup_incremental_newbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    store = _provision_store(spark, sf_dir)
    hist = spark.table(store)
    newd = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    new_bands = _bands(_minhash_sig_df(newd))
    hits = (
        new_bands.join(
            hist.select(F.col("doc_id").alias("hist_doc_id"), "band"), "band"
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("hist_doc_id").alias("n_hist_candidates"))
    )
    n = F.coalesce(F.col("n_hist_candidates"), F.lit(0))
    return (
        newd.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_hist_candidates"),
            (n == 0).alias("keep"),
        )
    )
