"""Product-analytics and corpus-statistics queries: forecast-revenue
filter-agg (TPC-H Q6), event funnels, cohort retention, TF-IDF, and
vocabulary building — common downstream consumers of the engine's
event and document tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.numeric import msum, sql_msum
from ..hints import constant_size
from ..operators.rank import top_n
from ..operators.text import sql_tokens, tokens
from ..registry import register
from ..sources import load_table


# TPC-H Q6: the canonical filter-aggregate — everything pushes into
# the scan, no join, one partial-agg shuffle of a single row.
@register(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_msum("l_extendedprice * l_discount", "revenue")}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(msum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"))
    )


# Funnel: per user, earliest signup -> first click after signup ->
# first purchase after that click; conversion counts per stage.
@register(
    "events_funnel_conversion",
    oracle="""
    WITH stage1 AS (
      SELECT user_id, MIN(ts) AS signup_ts FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    stage2 AS (
      SELECT s.user_id, s.signup_ts, MIN(e.ts) AS click_ts
      FROM stage1 s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'click' AND e.ts > s.signup_ts
      GROUP BY s.user_id, s.signup_ts
    ),
    stage3 AS (
      SELECT s.user_id, MIN(e.ts) AS purchase_ts
      FROM stage2 s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase' AND e.ts > s.click_ts
      GROUP BY s.user_id
    )
    SELECT (SELECT COUNT(*) FROM stage1) AS signed_up,
           (SELECT COUNT(*) FROM stage2) AS clicked_after_signup,
           (SELECT COUNT(*) FROM stage3) AS purchased_after_click
    """,
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    click_after = (
        signup.join(clicks, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("ts").alias("click_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    purchase_after = (
        click_after.join(purchases, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        signup.agg(F.count(F.lit(1)).alias("signed_up"))
        .crossJoin(click_after.agg(F.count(F.lit(1)).alias("clicked_after_signup")))
        .crossJoin(purchase_after.agg(F.count(F.lit(1)).alias("purchased_after_click")))
    )


# Cohort retention: users bucketed by first-seen week; how many remain
# active k weeks later.
@register(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events
      GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts)) AS BIGINT) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, COUNT(*) AS active_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    (
                        F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                        - F.unix_timestamp("cohort_week")
                    )
                    / (7 * 86400)
                )
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )


# TF-IDF: classic corpus weighting, exact integer tf/df counts and a
# floor-grid idf so both engines agree bit-for-bit. Top-3 terms per doc.
@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (floor(ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000)/1000000)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf, rn FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()
    idf = F.floor(F.log(F.lit(float(n_docs)) / F.col("df")) * 1e6) / 1e6
    scored = tf.join(df, "term").select(
        "doc_id", "term", (F.col("tf") * idf).alias("tfidf")
    )
    return top_n(scored, ("doc_id",), (F.desc("tfidf"), "term"), 3, rank="rn")


# Vocabulary building: corpus-wide term table with frequency rank —
# the tokenizer-training input stage.
@register(
    "text_vocabulary",
    oracle=f"""
    SELECT term, n_occurrences, n_docs,
           row_number() OVER (ORDER BY n_occurrences DESC, term) AS freq_rank
    FROM (
      SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents)
      GROUP BY term
    )
    """,
)
def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(tokens("text")).alias("term"),
    )
    counts = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    # distributed global rank (range-partition + offsets), not an
    # unpartitioned row_number window
    from ..operators.ids import global_row_number

    return global_row_number(
        counts, [F.desc("n_occurrences"), F.asc("term")], "freq_rank"
    )


# Vocabulary-coverage / OOV analysis: per-document rate of tokens
# falling outside the corpus top-K vocabulary — the signal that drives
# vocab-size choices and flags documents a truncated tokenizer would
# shred. The vocab is K rows by construction (constant at ANY corpus
# size), so broadcasting it back over the token stream is the correct
# scale shape: one shuffle to rank terms, then a map-side join.
VOCAB_K = 500


@register(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({sql_tokens()}) AS term FROM documents
    ),
    vocab AS (
      SELECT term FROM (
        SELECT term,
               row_number() OVER (ORDER BY COUNT(*) DESC, term) AS rk
        FROM tok GROUP BY term
      ) WHERE rk <= {VOCAB_K}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY t.doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc aggregation is the ROW GRAIN of the documents table, so
    the whole doc side runs map-only: tokenize the row into an array,
    count OOV terms against the top-K vocabulary carried as ONE
    broadcast array cell. The only shuffle anywhere is the |vocab|-row
    partial-aggregated term count feeding the ranking (constant-K
    output). The r8 shape instead pre-aggregated (doc_id, term) counts
    to share one tokenize pass between both sides — that corpus-wide
    shuffle + persist cost 2.16 s isolated median at sf0.1 vs 0.63 s
    for this shape (r9 adjudication, PLANS.md). Trade-off: membership
    is a linear scan of the K=500 array per token — O(K) CPU per
    token, constant and embarrassingly parallel; for a vocab too large
    to broadcast as an array, the (doc_id, term)-aggregate + equi-join
    shape in git history (r8) is the fallback."""
    d = load_table(spark, sf_dir, "documents")
    toks_expr = tokens("text")
    counts = (
        d.select(F.explode(toks_expr).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    # deterministic top-K (count desc, term asc) packed into a single
    # array cell: constant-size state at ANY corpus size
    vocab_row = (
        counts.orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(VOCAB_K)
        .agg(F.collect_list("term").alias("vocab"))
    )
    n_tok = F.size("toks")
    n_oov = F.size(F.filter("toks", lambda t: ~F.array_contains("vocab", t)))
    return (
        d.select("doc_id", toks_expr.alias("toks"))
        # empty docs produce no explode rows in the oracle — keep
        # parity (and avoid 0/0) by dropping them here too
        .filter(F.size("toks") > 0)
        .crossJoin(constant_size(vocab_row))
        .select(
            "doc_id",
            n_tok.cast("long").alias("n_tokens"),
            n_oov.cast("long").alias("n_oov"),
            (n_oov.cast("double") / n_tok).alias("oov_rate"),
        )
    )


# Event-sequence transition counts (the bigram / Markov-chain
# primitive behind behavioral analytics and next-action models):
# lag() over a per-user total order -> (prev_type, type) pair counts.
# The tiebreak on event_id makes the sequence a total order, so the
# transition multiset is engine- and partitioning-independent. Scale
# shape: one shuffle to order per-user (window partitioned by user,
# never a global sort), then a partial-aggregating pair count.
@register(
    "events_type_transitions",
    oracle="""
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM (
      SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_type", F.lag("event_type").over(w).alias("prev_type")
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
