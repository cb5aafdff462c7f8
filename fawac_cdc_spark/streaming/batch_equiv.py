"""Batch-mode equivalents of the streaming CDC pipelines (SURVEY.md §2 M6).

Each query here is the *exact batch semantics* of a Structured Streaming
pipeline in ``streaming/cdc.py`` — the driver's DuckDB oracle checks the
batch form, and ``tests/test_streaming.py`` asserts stream-batch parity,
which transitively pins the streaming implementations to the oracle:

- CDC upsert materialization → latest row per key (A17/A32 north_star)
- stateful stream dedup → first event per (key, kind)
  (``dropDuplicatesWithinWatermark`` analog)
- tumbling-window rollup → hour bucket aggregation
- sessionization with 30-min gap → ``session_window`` analog
  (reference episodes, ``fawac.py:597-611`` — A35)

Two of these rules are shared engine-wide and built only here:
``sessionize`` (the session gap, for every session query) and
``newest_per_user`` / ``latest_state`` (the CDC newest row, for the
upsert sink in ``streaming/cdc.py``).  The DuckDB oracles keep their
own hand-written SQL as the independent check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.helpers import materialize, money
from ..registry import register

SESSION_GAP_MIN = 30


def sessionize(events: DataFrame) -> DataFrame:
    """``events`` plus ``session_seq``, each row's 1-based session number
    within its user: the engine's ONE session rule (the reference's
    episode accumulation, ``rollout`` ``fawac.py:597-611``, A35).

    In each user's (ts, event_id) order a row opens a session when it is
    the user's first or follows the previous row by strictly more than
    SESSION_GAP_MIN minutes, so a gap of exactly 30:00.000000 continues
    the session.  Timestamp + interval arithmetic keeps microseconds
    (``unix_timestamp`` truncates to whole seconds and would sessionize
    a 1800.5 s gap differently from the oracles).  lag → gap flag →
    running sum: one windowed pass, one shuffle on user_id."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = (
        prev_ts.isNull()
        | (F.col("ts") > prev_ts + F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES"))
    ).cast("int")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn("new_session", new_session)
        .withColumn("session_seq", F.sum("new_session").over(wrun))
        .drop("new_session")
    )


def newest_per_user(df: DataFrame) -> DataFrame:
    """The newest row of each user_id, every column kept: the ONE
    "newest row wins" rule of the CDC state — greatest ts, ties broken
    by the greater event_id.  The upsert's merge and snapshot writes in
    ``streaming/cdc.py`` and the batch forms here all apply it."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")
    )


def latest_state(state: DataFrame) -> DataFrame:
    """A newest-row-per-user frame as the CDC state output
    (user_id, last_ts, last_type, last_value)."""
    return state.select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@register(
    "cdc_latest_state_per_user",
    oracle="""
SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
FROM (
    SELECT user_id, ts, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) t
WHERE rn = 1
""",
    tags=("m6", "cdc", "streaming-equiv"),
)
def cdc_latest_state_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert materialization: latest event per key — the batch
    semantics of the ``foreachBatch`` upsert sink in ``streaming/cdc.py``.
    One shuffle on user_id; at scale this is the MERGE-on-key pattern."""
    return latest_state(newest_per_user(load_table(spark, sf_dir, "events")))


@register(
    "stream_dedup_first_event",
    oracle="""
SELECT user_id, event_type, ts AS first_ts, event_id AS first_event_id
FROM (
    SELECT user_id, event_type, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rn
    FROM events
) t
WHERE rn = 1
""",
    tags=("m6", "cdc", "streaming-equiv"),
)
def stream_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup on (user_id, event_type), keep-first — the batch
    semantics of ``dropDuplicatesWithinWatermark``."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
        )
    )


@register(
    "hourly_event_rollup",
    oracle="""
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("m6", "cdc", "streaming-equiv"),
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation — batch semantics of the
    watermarked ``window(ts, '1 hour')`` streaming rollup."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
    )


@register(
    "session_agg_30min_gap",
    oracle=f"""
WITH gaps AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL {SESSION_GAP_MIN} MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), sessions AS (
    SELECT user_id, ts, event_id, value,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS session_seq
    FROM gaps
)
SELECT user_id, session_seq,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM sessions
GROUP BY user_id, session_seq
""",
    tags=("m6", "cdc", "streaming-equiv", "reference"),
)
def session_agg_30min_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) + per-session running totals
    — the reference's episode accumulation (``rollout`` ``fawac.py:597-611``,
    A35) and the batch analog of ``session_window(ts, '30 minutes')``.

    Session ids come from :func:`sessionize`.
    """
    sessions = sessionize(load_table(spark, sf_dir, "events"))
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(money("value")).cast("double").alias("total_value"),
    )


@register(
    "sliding_1h_15min_rollup",
    oracle="""
SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes'
           AS win_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(k)
GROUP BY 1, 2
""",
    tags=("m6", "cdc", "streaming-equiv"),
)
def sliding_1h_15min_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (1-hour window, 15-min slide): every event
    lands in exactly 4 overlapping windows — batch semantics of the
    watermarked ``window(ts, '1 hour', '15 minutes')`` stream. The oracle
    replays the overlap explicitly (bucket minus k slides).

    At scale the expansion factor is window/slide (here 4x) — Spark's
    window() does the same expansion map-side before the shuffle."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("win"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


CAP_TOTAL = 1000  # accumulation cap (money units) for the early-stop op


@register(
    "capped_user_totals",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts, event_id,
           CAST(value AS DECIMAL(18,2)) AS v,
           SUM(CAST(value AS DECIMAL(18,2))) OVER w AS run
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), flagged AS (
    SELECT user_id, v,
           COALESCE(MAX(run) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING),
                    0) AS prev_run
    FROM ordered
)
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(v) AS DOUBLE) AS total_value
FROM flagged
WHERE prev_run < {CAP_TOTAL}
GROUP BY user_id
""",
    tags=("m6", "cdc", "streaming-equiv", "reference"),
)
def capped_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped running accumulation with early stop — the reference's
    episode rollout (``fawac.py:597-611``, A35): per user, accumulate
    value in event-time order and stop permanently once the running total
    reaches CAP_TOTAL (the crossing event is included).

    Batch form: running decimal sum, keep rows whose *previous* running
    maximum is still below the cap (sticky stop — correct even if values
    could be negative). The streaming form is the
    ``applyInPandasWithState`` operator in ``streaming/cdc.py``."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = F.sum(money("value")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    flagged = (
        e.withColumn("run", run)
        .withColumn(
            "prev_run",
            F.coalesce(
                F.max("run").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("decimal(18,2)"),
            ),
        )
        .where(F.col("prev_run") < CAP_TOTAL)
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(money("value")).cast("double").alias("total_value"),
    )


@register(
    "click_purchase_pairs",
    oracle="""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       c.value AS click_value
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
 AND c.ts <  p.ts
WHERE p.event_type = 'purchase'
""",
    tags=("m6", "cdc", "streaming-equiv", "join"),
)
def click_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch semantics of the stream-stream interval self-join
    (``streaming/cdc.py::click_purchase_join_stream``): every
    (purchase, click-within-prior-10-minutes) pair per user."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    return (
        p.join(
            c,
            (F.col("c_user_id") == F.col("user_id"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 10 MINUTES"))
            & (F.col("c_ts") < F.col("p_ts")),
        )
        .select("purchase_id", "click_id", "user_id", "click_value")
    )


@register(
    "stream_static_enrich",
    oracle="""
SELECT c.c_mktsegment AS segment,
       e.event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
""",
    tags=("m6", "streaming-equiv", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: every event joined to its customer's
    dimension row, rolled up per (segment, event_type) — the batch
    semantics of ``cdc.enrich_stream``. In streaming form the dimension
    side is a static broadcast: each micro-batch map-joins against it
    with no shuffle and no state store, the standard shape for decorating
    a 100 TB event feed with slowly-changing dims."""
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
    )


@register(
    "cdc_state_with_tombstones",
    oracle="""
SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
FROM (
    SELECT user_id, ts, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) t
WHERE rn = 1 AND event_type <> 'error'
""",
    tags=("m6", "cdc", "streaming-equiv", "tombstone"),
)
def cdc_state_with_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-aware CDC materialization: the latest row per key wins, but
    a key whose newest event is a tombstone ('error' here stands in for a
    CDC DELETE record) disappears from the state entirely — the full
    upsert+delete MERGE semantics, one windowed scan per key, same single
    shuffle as the plain upsert."""
    newest = newest_per_user(load_table(spark, sf_dir, "events"))
    return latest_state(newest.where(F.col("event_type") != "error"))


EWMA_TAU = 0.1  # reference soft_update tau (fawac.py:15-17)
EWMA_BATCH = 1024  # reference batch size (fawac_configs.py batch_size)


@register(
    "ewma_state_batch_equiv",
    oracle=f"""
WITH bm AS (
    SELECT event_id // {EWMA_BATCH} AS batch_id, event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m
    FROM events
    GROUP BY 1, 2
),
idx AS (
    SELECT event_type, m,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY batch_id) AS j,
           COUNT(*) OVER (PARTITION BY event_type) AS jn
    FROM bm
)
SELECT event_type,
       ROUND(SUM(m * CASE WHEN j = 1 THEN power({1 - EWMA_TAU}, jn - j)
                          ELSE {EWMA_TAU} * power({1 - EWMA_TAU}, jn - j) END),
             6) AS target,
       MAX(jn) AS n_batches
FROM idx
GROUP BY event_type
""",
    tags=("m6", "cdc", "streaming-equiv", "ewma", "a17"),
)
def ewma_state_batch_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch semantics of the distributed EWMA target state (A17,
    reference ``soft_update`` ``fawac.py:15-17``): deterministic
    micro-batches of ``event_id div 1024`` (the reference batch size),
    per-batch per-event_type cents-exact means, then the recurrence
    ``target = (1-tau)*target + tau*mean`` folded across batches in batch
    order — written as its closed form (first batch weighted
    ``(1-tau)^(J-1)``, batch j>1 weighted ``tau*(1-tau)^(J-j)``), so the
    whole thing is two hash aggregations and one window — no iteration,
    no driver state. The stream pinned to this query is
    ``ewma_target_stream_gs`` (applyInPandasWithState). Rounded to 6dp
    on both engines per the float-parity convention."""
    return _ewma_batch_fold(load_table(spark, sf_dir, "events"))


def _ewma_batch_fold(e: DataFrame, batch: int = EWMA_BATCH) -> DataFrame:
    bm = e.groupBy(
        F.expr(f"event_id div {batch}").alias("batch_id"), "event_type"
    ).agg((F.sum(money("value")).cast("double") / F.count(F.lit(1))).alias("m"))
    w = Window.partitionBy("event_type").orderBy("batch_id")
    wa = Window.partitionBy("event_type")
    idx = bm.withColumn("j", F.row_number().over(w)).withColumn(
        "jn", F.count(F.lit(1)).over(wa)
    )
    decay = F.pow(F.lit(1 - EWMA_TAU), F.col("jn") - F.col("j"))
    weight = F.when(F.col("j") == 1, decay).otherwise(F.lit(EWMA_TAU) * decay)
    return idx.groupBy("event_type").agg(
        F.round(F.sum(F.col("m") * weight), 6).alias("target"),
        F.max("jn").alias("n_batches"),
    )


@register(
    "purchase_click_left_pairs",
    oracle="""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       c.value AS click_value,
       p.ts AS purchase_ts
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 10 MINUTE
 AND c.ts <  p.ts
WHERE p.event_type = 'purchase'
""",
    tags=("m6", "cdc", "streaming-equiv", "join", "outer"),
)
def purchase_click_left_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch semantics of the LEFT OUTER stream-stream interval join
    (``streaming/cdc.py::click_purchase_left_join_stream``): every
    purchase, with its prior-10-minute clicks where they exist and NULL
    click columns where none do — attributed and un-attributed
    conversions in one result."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
    )
    return p.join(
        c,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("c_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("purchase_ts")),
        "left",
    ).select("purchase_id", "click_id", "user_id", "click_value", "purchase_ts")


def _lsh_admissions_oracle() -> str:
    from ..functions.dedup import _BANDS_SQL, _MINHASH_SIG_SQL

    return f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
{_BANDS_SQL},
earlier AS (
    SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND b.doc_id < a.doc_id
    GROUP BY a.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(e.n, 0) AS BIGINT) AS n_earlier_dups,
       COALESCE(e.n, 0) = 0 AS admitted
FROM (SELECT DISTINCT doc_id FROM bands) d
LEFT JOIN earlier e ON d.doc_id = e.doc_id
"""


@register(
    "lsh_dedup_admissions",
    oracle=_lsh_admissions_oracle(),
    tags=("m6", "streaming-equiv", "dedup", "llm", "minhash"),
)
def lsh_dedup_admissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch closed form of the streaming near-dedup-on-ingest
    operator (``streaming/cdc.py::lsh_dedup_stream_watermarked``): a
    document is admitted iff NO smaller-id document shares any of its
    LSH band keys — exactly what the stream's smallest-doc-per-band-key
    state converges to under any arrival order within the watermark
    delay (pinned stream==batch on a shuffled feed in
    ``tests/test_streaming.py``).  One band self-join bounded by band
    keys (never all-pairs), one per-doc aggregate."""
    from ..functions.dedup import minhash_bands

    bands = minhash_bands(spark, sf_dir)
    earlier = (
        bands.join(
            bands.select(
                F.col("doc_id").alias("other_doc"), "band", "key"
            ),
            ["band", "key"],
        )
        .where(F.col("other_doc") < F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.count_distinct("other_doc").alias("n_earlier_dups"))
    )
    n = F.coalesce(F.col("n_earlier_dups"), F.lit(0))
    return (
        bands.select("doc_id")
        .distinct()
        .join(earlier, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_earlier_dups"),
            (n == 0).alias("admitted"),
        )
    )



def semantic_admissions_oracle_sql() -> str:
    """DuckDB oracle for ``semantic_dedup_admissions``."""
    from ..functions.similarity import (
        SEMDEDUP_COS,
        _dot2_duck,
        _NORM_DUCK,
        _scored_cents_sql,
    )

    return f"""
WITH {_scored_cents_sql()}, assigned AS (
    SELECT vec_id, embedding, {_NORM_DUCK.format(v="embedding")} AS nrm, cent_id
    FROM scored_cents WHERE rn = 1
), earlier AS (
    SELECT a.vec_id, COUNT(*) AS n
    FROM assigned a JOIN assigned b
      ON a.cent_id = b.cent_id AND b.vec_id < a.vec_id
    WHERE ROUND(({_dot2_duck("a.embedding", "b.embedding")}) / (a.nrm * b.nrm), 6)
          >= {SEMDEDUP_COS}
    GROUP BY a.vec_id
)
SELECT a.vec_id, a.cent_id,
       CAST(COALESCE(e.n, 0) AS BIGINT) AS n_earlier_dups,
       COALESCE(e.n, 0) = 0 AS admitted
FROM assigned a LEFT JOIN earlier e ON a.vec_id = e.vec_id
"""


@register(
    "semantic_dedup_admissions",
    oracle=semantic_admissions_oracle_sql(),
    tags=("m6", "streaming-equiv", "dedup", "llm", "semdedup"),
)
def semantic_dedup_admissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch closed form of the streaming SEMANTIC dedup-on-ingest
    operator (``streaming/cdc.py::semantic_dedup_stream_watermarked``) —
    the embedding-side twin of ``lsh_dedup_admissions``: a vector is
    admitted iff NO smaller-id vector in its SemDeDup cell lies within
    the cosine threshold.  Deliberately non-recursive (charged against
    every earlier-SEEN vector, admitted or not — the same conservative
    convention as ``incremental_lsh_dedup``), which is exactly what the
    stream's append-only per-cell state converges to under any arrival
    order within the watermark delay (pinned stream==batch on a shuffled
    feed in ``tests/test_streaming.py``).

    Scale shape: nearest-cell assignment is the shared broadcast-argmax
    pass (`cosine_assigned_cells`), the pair probe is a cent_id
    equi-join (cells are the blocking key, k ~ sqrt(n) keeps them
    task-sized), norms hoisted once per vector, cosine rounded to 6 on
    both engines before the threshold."""
    from ..functions.similarity import close_pair_edges, normed_cells

    assigned = normed_cells(load_table(spark, sf_dir, "embeddings"))
    # the closed form charges the LARGER id of each close pair, so the
    # shared edge helper's b_id is the charged vector
    earlier = (
        close_pair_edges(assigned)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_earlier_dups"))
    )
    n = F.coalesce(F.col("n_earlier_dups"), F.lit(0))
    return (
        assigned.select("vec_id", "cent_id")
        .join(earlier, "vec_id", "left")
        .select(
            "vec_id",
            "cent_id",
            n.alias("n_earlier_dups"),
            (n == 0).alias("admitted"),
        )
    )


# --- token-budget admission (round 7): batch closed form ---------------------


def _token_budget_admissions_oracle() -> str:
    from ..functions.traindata import _SHUF_KEY_SQL, TOKEN_BUDGET_PER_SOURCE

    return f"""
WITH keyed AS (
    SELECT doc_id, source, len(string_split(text, ' ')) AS ntok,
           {_SHUF_KEY_SQL} AS ord_key
    FROM documents
),
cum AS (
    SELECT doc_id, source, ntok,
           SUM(ntok) OVER (PARTITION BY source ORDER BY ord_key
                           ROWS UNBOUNDED PRECEDING) AS cum
    FROM keyed
)
SELECT doc_id, source, CAST(ntok AS BIGINT) AS ntok,
       cum <= {TOKEN_BUDGET_PER_SOURCE} AS admitted
FROM cum
"""


@register(
    "token_budget_admissions",
    oracle=_token_budget_admissions_oracle(),
    tags=("m6", "streaming-equiv", "traindata", "budget"),
)
def token_budget_admissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch closed form of the streaming token-budget gate
    (``streaming/cdc.py::token_budget_stream_watermarked``): a document
    is admitted iff the per-source running token total over the
    deterministic shuffled order — counting EVERY document seen,
    admitted or not (prefix-truncation semantics, so the decision is a
    pure function of the prefix and never depends on earlier admission
    outcomes) — has not yet exceeded the budget.  Same
    `budget_prefix_cums` two-phase distributed prefix sum as
    ``token_budget_selection``; the stream converges to exactly this
    when event times follow ord_key order, on any arrival order within
    the watermark delay (stream==batch pinned on a shuffled feed in
    ``tests/test_streaming.py``)."""
    from ..functions.traindata import (
        TOKEN_BUDGET_PER_SOURCE,
        budget_prefix_cums,
    )

    cum = budget_prefix_cums(load_table(spark, sf_dir, "documents"))
    return cum.select(
        "doc_id",
        "source",
        F.col("ntok").cast("long").alias("ntok"),
        (F.col("cum") <= TOKEN_BUDGET_PER_SOURCE).alias("admitted"),
    )


# --- CDC time-travel version diff (round 7) ----------------------------------


@register(
    "cdc_version_diff",
    oracle="""
WITH k AS (SELECT MAX(event_id) // 2 AS k FROM events),
s1 AS (
    SELECT user_id, ts, event_type, value FROM (
        SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
        FROM events e, k WHERE e.event_id <= k.k
    ) t WHERE rn = 1
),
s2 AS (
    SELECT user_id, ts, event_type, value FROM (
        SELECT e.*, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
        FROM events e
    ) t WHERE rn = 1
)
SELECT status, CAST(COUNT(*) AS BIGINT) AS n_users
FROM (
    SELECT CASE WHEN s1.user_id IS NULL THEN 'added'
                WHEN s1.ts <> s2.ts OR s1.event_type <> s2.event_type
                     OR s1.value <> s2.value THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM s2 LEFT JOIN s1 ON s2.user_id = s1.user_id
) d
GROUP BY status
""",
    tags=("m6", "cdc", "time-travel", "sink"),
)
def cdc_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot DIFF across two committed versions of the upsert
    state — the "what changed between v1 and v2" query every
    table-format consumer runs — executed through the REAL sink: the
    query commits epoch 1 (latest-per-user over the first id-half of
    events) and epoch 2 (over everything) via the manifest machinery
    (`write_state_snapshot`, the same commit path as the streaming
    upsert), then time-travel-reads BOTH versions back with
    ``read_upsert_state(version=...)`` and classifies every key as
    added / changed / unchanged.

    The oracle states the identical semantics purely over ``events``
    (two latest-per-key windows + a left join), so the driver hash
    verifies the whole write→manifest→time-travel-read→diff round trip
    value-exactly — keys, timestamps, and payload doubles all round-trip
    parquet bit-for-bit.  Scale shape: both versions are read in full
    and diffed via one user-keyed join; the id cutoff uses integer
    ``div`` on both engines so the split is exact."""
    import shutil

    from ..sources.connectors import _io_dir
    from .cdc import read_upsert_state, write_state_snapshot

    state_dir = _io_dir(sf_dir, "cdc_version_diff_state")
    shutil.rmtree(state_dir, ignore_errors=True)

    e = load_table(spark, sf_dir, "events")
    half = e.agg(F.expr("max(event_id) div 2").alias("k"))
    v1_src = e.join(F.broadcast(half)).where(F.col("event_id") <= F.col("k")).drop("k")
    write_state_snapshot(v1_src, state_dir, epoch_id=1)
    write_state_snapshot(e, state_dir, epoch_id=2)

    s1 = read_upsert_state(spark, state_dir, version=1).select(
        "user_id",
        F.lit(1).alias("in_v1"),
        F.col("ts").alias("ts1"),
        F.col("event_type").alias("type1"),
        F.col("value").alias("value1"),
    )
    s2 = read_upsert_state(spark, state_dir, version=2).select(
        "user_id", "ts", "event_type", "value"
    )
    # join-miss detection via a literal flag, not ts1 — a legitimately
    # NULL v1 timestamp must not masquerade as a missing key
    status = (
        F.when(F.col("in_v1").isNull(), F.lit("added"))
        .when(
            (F.col("ts1") != F.col("ts"))
            | (F.col("type1") != F.col("event_type"))
            | (F.col("value1") != F.col("value")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        s2.join(s1, "user_id", "left")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


from ..functions.dedup import span_removal_firstseen_oracle_sql  # noqa: E402


@register(
    "span_removal_firstseen",
    oracle=span_removal_firstseen_oracle_sql(),
    tags=("llm", "dedup", "substring", "stream-twin"),
)
def span_removal_firstseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch closed form of the streaming span-dedup-on-ingest operator
    (``streaming/cdc.py::span_dedup_stream_watermarked``): a token
    position is excised iff some covering n-gram was already seen in a
    STRICTLY smaller doc_id — first occurrence kept, exactly what the
    stream's smallest-doc-per-gram state converges to under any arrival
    order within the watermark delay (pinned stream==batch on a shuffled
    feed in ``tests/test_streaming.py``).  The apply
    half of Lee et al. 2022 in its incremental-corpus form: re-ingesting
    yesterday's corpus plus a new batch only rewrites the new batch.

    Same linear scale shape as ``substring_span_removal`` — the only
    change is the dup condition (min-doc-per-gram join instead of
    distinct-doc count), still one equi-join bounded by gram occurrences.
    """
    return span_removal_firstseen_df(spark, sf_dir).select(
        "doc_id",
        F.md5("kept_text").alias("kept_text_hash"),
        "n_spans_removed",
        "chars_removed",
    )


def span_removal_firstseen_df(
    spark: SparkSession,
    sf_dir: str,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, kept_text, n_spans_removed, chars_removed) under
    first-occurrence-kept semantics, for ALL documents."""
    from ..functions.dedup import (
        SUBSTRING_GRAM_N,
        positioned_grams,
        rewrite_excising,
    )

    n = SUBSTRING_GRAM_N
    d = docs if docs is not None else load_table(spark, sf_dir, "documents")
    # fan_out before the gram explode + rewrite posexplode (explode
    # discipline — same shape as substring_span_removal_df).
    from ..operators.helpers import fan_out

    t = fan_out(d.select("doc_id", F.col("text")), "doc_id").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # kept: test_span_removal_plan_has_no_pairwise_stage pins it
    grams = materialize(positioned_grams(t, n), "span_removal_firstseen.grams")
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    covered = (
        grams.join(first, "gram")
        .where(F.col("first_doc") < F.col("doc_id"))
        .select("doc_id", F.explode(F.expr(f"sequence(i, i + {n - 1})")).alias("p"))
        .distinct()
    )
    return rewrite_excising(t, covered)


# --- round 11: quality-aware dedup admission (batch closed form) ---------------


def _quality_admissions_oracle() -> str:
    from ..functions.dedup import _BANDS_SQL, _MINHASH_SIG_SQL
    from ..functions.text import UNIQ_RATIO_SQL

    return f"""
WITH sig AS ({_MINHASH_SIG_SQL}),
{_BANDS_SQL},
q AS (SELECT doc_id, ROUND({UNIQ_RATIO_SQL}, 6) AS q FROM documents),
keyed AS (
    SELECT b.doc_id, b.band, b.key, q.q,
           MAX(q.q) OVER (PARTITION BY b.band, b.key ORDER BY b.doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_prev
    FROM bands b JOIN q USING (doc_id)
)
SELECT doc_id,
       MAX(q) AS q,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(COUNT(*) FILTER (WHERE best_prev IS NULL OR q > best_prev) AS BIGINT)
           AS n_keys_won,
       BOOL_AND(best_prev IS NULL OR q > best_prev) AS admitted
FROM keyed GROUP BY doc_id
"""


@register(
    "quality_dedup_admissions",
    oracle=_quality_admissions_oracle(),
    tags=("m6", "streaming-equiv", "dedup", "llm", "minhash", "quality"),
)
def quality_dedup_admissions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch closed form of the QUALITY-AWARE streaming dedup admission
    (``streaming/cdc.py::quality_lsh_dedup_stream``): a document wins an
    LSH band key iff its quality score (shared uniq-token-ratio, rounded
    6 BEFORE any comparison per the repo convention) strictly beats
    every smaller-id document previously seen on that key, and is
    admitted iff it wins ALL of its band keys — the ingest-time
    counterpart of ``quality_survivor_per_cluster``'s keep-the-best
    batch rule, upgrading ``lsh_dedup_admissions``'s first-wins
    convention to best-wins.

    Under id-ordered ingest this per-key prefix-maximum is exactly what
    the stream's (best_q, best_doc) state converges to (pinned
    stream==batch in tests/test_streaming.py).  One band table (pure
    map), one per-(band, key) running-max window — partitions bounded by
    band-key collision groups, uniform md5-derived keys at scale."""
    from ..functions.dedup import band_table_for, minhash_signatures_df
    from ..functions.text import uniq_ratio_col

    d = load_table(spark, sf_dir, "documents")
    q = d.select("doc_id", F.round(uniq_ratio_col(), 6).alias("q"))
    bands = band_table_for(minhash_signatures_df(spark, sf_dir)).join(q, "doc_id")
    w = (
        Window.partitionBy("band", "key")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    keyed = bands.withColumn("best_prev", F.max("q").over(w))
    won = F.col("best_prev").isNull() | (F.col("q") > F.col("best_prev"))
    return keyed.groupBy("doc_id").agg(
        F.max("q").alias("q"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(won.cast("int")).cast("bigint").alias("n_keys_won"),
        F.bool_and(won).alias("admitted"),
    )
