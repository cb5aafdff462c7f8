"""Structured Streaming CDC pipelines (SURVEY.md §2 M6, BASELINE north_star).

The events table is the CDC stream: ``readStream`` file source →
watermark → windowed/stateful operators → ``foreachBatch`` upsert
materialization. Batch equivalents live in ``streaming/batch_equiv.py``
(oracle-checked); ``tests/test_streaming.py`` asserts stream-batch parity.
Two rules are taken from there rather than restated: the upsert keeps
``newest_per_user`` (greatest (ts, event_id) per user) and reports it
through ``latest_state``, and the session operators use
``SESSION_GAP_MIN``.

Reference anchors:
- micro-batch orchestration (``fawac.py:521-551`` — A32) → trigger loop
- EWMA soft target update (``fawac.py:15-17`` — A17) →
  ``ewma_target_stream_gs``
- episode accumulation (``fawac.py:597-611`` — A35) → ``session_window``,
  ``capped_totals_stream``, ``session_close_stream``
- per-key fold-then-emit recurrences (A17, A35) → ``_keyed_scan``
- checkpoint serialize/restore (``fawac.py:555-583`` — A33) → versioned
  snapshot state dirs + streaming checkpointLocation

The timeout-free stateful operators (EWMA, capped totals, user profile,
quality-aware LSH gate, Holt, Holt–Winters, Page–Hinkley) are step
functions on ONE keyed scan, ``_keyed_scan``: it owns the
``applyInPandasWithState`` call, the state restore, the drain-then-sort
of a group's rows and the schema-typed output frame.  The dispersion
moments are associative, so they are a native streaming aggregation
with no Python worker.  Operators with event-time timeouts (session
close, the watermarked gates) keep their own calls.

Scale notes: every pipeline keys its state by user_id/event_type so the
state store partitions horizontally; watermarks bound state size; the
upsert sink writes versioned snapshots (swap-on-commit) — the plain-
parquet stand-in for Delta/Iceberg MERGE.

On-ingest dedup/selection gates (LSH near-dup, semantic cell, token
budget, duplicated span) each have ONE form, the ``*_watermarked``
operator: arrivals are buffered per key until the event-time watermark
passes their ``ingest_ts``, then judged in (ingest_ts, id) order, so the
admitted set equals the ``streaming/batch_equiv.py`` closed form under
ANY arrival order, provided event times follow the batch form's order
(doc/vec id; ord_key for the budget) and disorder stays within the
watermark delay (later rows are dropped, never admitted).
``tests/test_streaming.py`` pins each gate against its batch form on a
shuffled feed, plus the beyond-delay boundary.  The one exception is
``quality_lsh_dedup_stream``: it judges at first arrival, so it equals
``batch_equiv.quality_dedup_admissions`` only on a doc_id-ordered feed
(an ordered log replay or a monotonically keyed topic); on a shuffled
feed its state converges but emitted verdicts are not retracted.
"""

from __future__ import annotations

import decimal
import json
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupStateTimeout

from ..catalog import SCHEMAS
from ..operators.helpers import job_description, money
# the batch forms own the session gap and the newest-row rule; importing
# them (not mirroring them) keeps stream and batch from drifting apart
from .batch_equiv import SESSION_GAP_MIN, latest_state, newest_per_user


def _money_cents(v) -> int:
    """Money double → integer cents with SQL HALF_UP semantics.

    Matches the batch oracles' ``CAST(value AS DECIMAL(18,2))`` exactly
    (decimal-over-str, ROUND_HALF_UP). Python's ``round()`` is banker's
    rounding and would diverge on a value whose double is exactly half a
    cent — unreachable with the 2-decimal money fixtures, but the stateful
    ops must not depend on that fixture precondition."""
    return int(
        decimal.Decimal(str(v)).quantize(
            decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
        )
        * 100
    )

# Schemas handed to readStream (file sources require one) are the
# catalog's: events.ts arrives already converted to TIMESTAMP_NTZ micros
# by the chunk-writer (tests) or upstream ingestion.
EVENT_STREAM_SCHEMA = SCHEMAS["events"]


def read_event_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-stream source over a directory of event parquet chunks.

    ``maxFilesPerTrigger=1`` makes each chunk one micro-batch — the local
    stand-in for a Kafka/CDC feed's incremental arrival."""
    return (
        spark.readStream.schema(EVENT_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def _with_event_time(events: DataFrame) -> DataFrame:
    """Watermarks require TIMESTAMP (LTZ); event time is the NTZ wall
    clock cast in the session zone (pinned UTC in session.py), cast back
    to NTZ on emit so outputs match the batch equivalents."""
    return events.withColumn("ts_ltz", F.col("ts").cast("timestamp"))


def hourly_rollup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup (batch equiv: hourly_event_rollup)."""
    return (
        _with_event_time(events)
        .withWatermark("ts_ltz", watermark)
        .groupBy(F.window("ts_ltz", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


def dedup_first_stream(events: DataFrame) -> DataFrame:
    """Stateful keep-first dedup on (user_id, event_type) with BOUNDED
    state: ``dropDuplicatesWithinWatermark`` keeps the first arrival per
    key and — unlike plain ``dropDuplicates``, whose per-key state lives
    forever even while the key keeps arriving — expires a key's dedup
    state once the watermark passes its event time, so the state store
    size tracks the watermark horizon instead of the all-time key
    cardinality.  Duplicates are only guaranteed dropped when they arrive
    within the watermark delta of the first event — the honest contract
    for an unbounded CDC feed (batch equiv: stream_dedup_first_event,
    exact on any finite replay shorter than the horizon)."""
    return (
        _with_event_time(events)
        .withWatermark("ts_ltz", "30 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("first_ts"),
            F.col("event_id").alias("first_event_id"),
        )
    )


def session_window_stream(events: DataFrame) -> DataFrame:
    """Native session windows — the reference's episode abstraction (A35).

    (batch equiv: session_agg_30min_gap, modulo the closed/open boundary
    at an exact-gap arrival)."""
    return (
        _with_event_time(events)
        .withWatermark("ts_ltz", "1 day")
        .groupBy(
            F.session_window("ts_ltz", f"{SESSION_GAP_MIN} minutes").alias("sw"),
            F.col("user_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select("user_id", "session_start", "n_events", "total_value")
    )


# --- CDC upsert materialization (foreachBatch + incremental snapshots) -----
#
# The snapshot is hash-bucketed on the merge key and committed via
# per-version manifests, so a micro-batch rewrites ONLY the buckets its
# keys hash into — O(touched-bucket bytes) per batch instead of O(total
# state) — while untouched buckets stay byte-identical on disk (the new
# manifest re-references their existing files).  This is the plain-parquet
# emulation of Delta/Iceberg MERGE + transaction log (SURVEY §4.2.2):
# data files are immutable, a commit is one atomic manifest rename, and
# readers resolve the newest manifest to a file list.  Every epoch, batch
# snapshot or micro-batch, is written and committed by ``_commit_epoch``:
# a version is the set of bucket directories its manifest lists, namely
# those it carries forward plus those its own write produced.
#
# The manifest also records the store's bucket count, ``n_buckets``.  A
# commit that carries no buckets (a new store's first epoch, a full
# snapshot) takes one bucket per task slot of its session
# (``defaultParallelism``); a commit that carries buckets keeps the
# carried count, so a store keeps the count of the session that created
# it.  The write shuffles by ``user_id`` into ``n_buckets`` partitions,
# and Spark's hash partition id is ``_bucket_col``, so each task holds
# one whole bucket and writes it as one file: a full rewrite is one wave
# of one-file tasks.  At 100 TB on ~4,000 task slots that is ~4,000
# buckets of ~25 GB, one executor-comfortable rewrite each.


def _bucket_col(n_buckets: int) -> F.Column:
    """Bucket of a ``user_id``: Spark's ``HashPartitioning(user_id,
    n_buckets)`` partition id, ``pmod(murmur3(user_id, 42), n)``."""
    return F.pmod(F.hash(F.col("user_id")), F.lit(n_buckets)).cast("int")


def state_versions(state_dir: str) -> list[int]:
    """Committed snapshot epochs, ascending: the versions
    ``read_upsert_state(version=...)`` can time-travel to."""
    if not os.path.isdir(state_dir):
        return []
    out = []
    for d in os.listdir(state_dir):
        if d.startswith("v") and d.endswith(".json") and d[1:-5].isdigit():
            out.append(int(d[1:-5]))
    return sorted(out)


def _manifest(state_dir: str, version: int | None = None) -> dict:
    """The committed manifest ``{"epoch", "buckets", "n_buckets"}``.

    ``version`` selects a specific committed epoch (time travel); default
    is the newest commit, or ``{}`` when the store holds none.  A version
    that is not committed raises, also on a store with no commit."""
    versions = state_versions(state_dir)
    if version is None:
        if not versions:
            return {}
        version = versions[-1]
    elif version not in versions:
        raise ValueError(f"no committed version {version}; have {versions}")
    with open(os.path.join(state_dir, f"v{version}.json")) as f:
        return json.load(f)


def _read_manifest(state_dir: str, version: int | None = None) -> dict[str, str]:
    """bucket id (str) -> state_dir-relative data directory of a
    committed manifest (:func:`_manifest`)."""
    return _manifest(state_dir, version).get("buckets", {})


def _commit_manifest(
    state_dir: str, epoch_id: int, buckets: dict[str, str], n_buckets: int
) -> None:
    """Atomic swap-on-commit: write sidecar, rename into place."""
    path = os.path.join(state_dir, f"v{epoch_id}.json")
    tmp = path + ".tmp"
    doc = {"epoch": epoch_id, "buckets": buckets, "n_buckets": n_buckets}
    with open(tmp, "w") as f:
        json.dump(doc, f, sort_keys=True)
    os.replace(tmp, path)


def _read_buckets(spark: SparkSession, state_dir: str, rels) -> DataFrame:
    """State rows of the given state_dir-relative bucket directories.
    They are ``SCHEMAS["events"]`` rows, read with that schema (no
    inference job); a snapshot written from a narrower frame reads back
    its missing columns as NULL."""
    paths = [os.path.join(state_dir, rel) for rel in rels]
    return spark.read.schema(SCHEMAS["events"]).parquet(*paths)


def read_upsert_state(
    spark: SparkSession, state_dir: str, version: int | None = None
) -> DataFrame | None:
    """Read a committed snapshot (A33 restore semantics): resolve the
    manifest — newest by default, or any committed epoch via ``version``
    (time travel; data files are immutable, so every historical manifest
    stays readable until its epochs are vacuumed)."""
    buckets = _read_manifest(state_dir, version)
    if not buckets:
        return None
    return _read_buckets(spark, state_dir, buckets.values())


def _n_buckets(spark: SparkSession, manifest: dict) -> int:
    """Bucket count of a commit that carries ``manifest``: the carried
    manifest's own count, or one bucket per task slot of this session
    when it carries no buckets."""
    if manifest.get("buckets"):
        return manifest["n_buckets"]
    return spark.sparkContext.defaultParallelism


def _commit_epoch(
    df: DataFrame,
    state_dir: str,
    epoch_id: int,
    carried: dict[str, str],
    n_buckets: int,
) -> None:
    """The state store's one write and commit: write the newest row per
    user of ``df`` to ``data/e{epoch_id}``, one file per bucket of
    ``n_buckets``, then commit ``carried`` plus one entry per
    ``bucket=K`` directory that write produced.  The overwrite first
    clears whatever an earlier, uncommitted attempt at this epoch left
    there, so the listing holds exactly this write's buckets; a write of
    no rows commits ``carried`` unchanged.  Its jobs run as
    ``cdc e{epoch_id} write``."""
    epoch_rel = f"data/e{epoch_id}"
    epoch_dir = os.path.join(state_dir, epoch_rel)
    with job_description(df.sparkSession.sparkContext, f"cdc e{epoch_id} write"):
        (
            newest_per_user(df.repartition(n_buckets, "user_id"))
            .withColumn("bucket", _bucket_col(n_buckets))
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(epoch_dir)
        )
    written = {
        d.split("=", 1)[1]: f"{epoch_rel}/{d}"
        for d in os.listdir(epoch_dir)
        if d.startswith("bucket=")
    }
    _commit_manifest(state_dir, epoch_id, {**carried, **written}, n_buckets)


def write_state_snapshot(df: DataFrame, state_dir: str, epoch_id: int) -> None:
    """Batch-mode FULL-snapshot commit through the same ``_commit_epoch``
    the streaming upsert sink uses: ``df`` is the complete state, so the
    committed manifest references ONLY this epoch's buckets (unlike the
    incremental `cdc_upsert_run` MERGE, which carries untouched buckets
    forward) — carrying previous buckets here would resurrect keys absent
    from ``df``, which is neither snapshot nor upsert semantics.  As a
    commit that carries nothing, it takes one bucket per task slot of
    the session.  ``read_upsert_state(version=...)`` time travel then
    works identically whether an epoch came from a micro-batch or a
    batch job (the Delta/Iceberg snapshot-commit shape).  Epoch ids are
    immutable: reusing a committed id would overwrite data files older
    manifests still reference, so that is refused loudly."""
    if epoch_id in state_versions(state_dir):
        raise ValueError(
            f"epoch {epoch_id} already committed in {state_dir}; epochs are "
            "immutable — pick an unused id (see state_versions())"
        )
    _commit_epoch(df, state_dir, epoch_id, {}, _n_buckets(df.sparkSession, {}))


def cdc_upsert_run(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Run the CDC upsert pipeline to completion over a finite stream.

    Each micro-batch MERGEs into the latest-per-user state incrementally:
    bucket the batch keys with the store's bucket count, read ONLY the
    previously committed data of the touched buckets, keep the newest
    row per key, write those buckets to an epoch-scoped directory, and
    commit a manifest that re-references every untouched bucket's
    existing files unchanged.  A store with no committed bucket has
    nothing to merge, so that batch fires no touched-bucket job and its
    commit takes the session's bucket count.  The jobs of epoch N run as
    ``cdc eN touched`` and ``cdc eN write``.  Returns the final
    materialized state.

    A replayed epoch whose manifest is already committed (the manifest
    landed, Spark's commit log did not) is a no-op: its data files are
    immutable and the manifest already references them.  That same rule
    would silently skip a NEW feed's first batches if a fresh checkpoint
    (epoch ids restart at 0) were pointed at a state dir that already
    holds commits, so that pairing is refused before any Spark job.
    """
    offsets = os.path.join(checkpoint_dir, "offsets")
    started = os.path.isdir(offsets) and any(n.isdigit() for n in os.listdir(offsets))
    if not started and state_versions(state_dir):
        raise ValueError(
            f"checkpoint {checkpoint_dir} has no offsets but state dir "
            f"{state_dir} already holds committed epochs; a fresh checkpoint "
            "would replay over them — resume with the checkpoint that wrote "
            "them, or start a new state dir"
        )
    events = read_event_stream(spark, source_dir)

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        if os.path.exists(os.path.join(state_dir, f"v{epoch_id}.json")):
            return
        sess = batch_df.sparkSession
        manifest = _manifest(state_dir)
        carried = manifest.get("buckets", {})
        n_buckets = _n_buckets(sess, manifest)
        merged = batch_df
        if carried:
            # which previous buckets to merge must be known before the write
            with job_description(sess.sparkContext, f"cdc e{epoch_id} touched"):
                touched = {
                    str(r["bucket"])
                    for r in batch_df.select(_bucket_col(n_buckets).alias("bucket"))
                    .distinct()
                    .collect()
                }
            prev = [rel for k, rel in carried.items() if k in touched]
            if prev:
                merged = _read_buckets(sess, state_dir, prev).unionByName(batch_df)
        _commit_epoch(merged, state_dir, epoch_id, carried, n_buckets)

    q = (
        events.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = read_upsert_state(spark, state_dir)
    assert final is not None, "no micro-batches processed"
    return latest_state(final)


# --- keyed scans: the one shape of the timeout-free stateful operators -----
#
# Every per-key recurrence below has one shape, the reference's per-key
# folds (``soft_update``, ``fawac.py:15-17``, A17; ``rollout``,
# ``fawac.py:597-611``, A35): restore the key's state, fold this
# micro-batch's rows into it in a fixed order, store it, emit.
# ``_keyed_scan`` owns that shape and the ``applyInPandasWithState``
# call; an operator supplies its step function, initial state, row
# order and schemas.  State lives in the state store, partitioned by the
# key and checkpointed — state never leaves the executors, any key
# cardinality.

_PANDAS_DTYPES = {
    T.LongType: "int64",
    T.IntegerType: "int32",
    T.DoubleType: "float64",
    T.BooleanType: "bool",
}


def _frame(rows: list[tuple], schema: T.StructType) -> pd.DataFrame:
    """Output tuples (in ``schema`` field order) as a pandas frame whose
    dtypes follow ``schema`` — also when ``rows`` is empty, so a group
    that emits nothing still matches the output StructType."""
    return pd.DataFrame(rows, columns=schema.names).astype(
        {f.name: _PANDAS_DTYPES.get(type(f.dataType), "object") for f in schema}
    )


def _scan_group(out_schema: T.StructType, init: tuple, step, order):
    """The per-group function ``_keyed_scan`` hands to Spark.  It drains
    ALL of the group's Arrow chunks before sorting: a group larger than
    ``arrow.maxRecordsPerBatch`` arrives as several chunks, and a
    per-chunk sort would fold its rows out of order."""

    def scan(key, pdf_iter, state):
        pdf = pd.concat(list(pdf_iter), ignore_index=True)
        if order:
            pdf = pdf.sort_values(order, kind="stable", ignore_index=True)
        new_state, rows = step(key, state.get if state.exists else init, pdf)
        state.update(new_state)
        yield _frame(rows, out_schema)

    return scan


def _keyed_scan(
    df: DataFrame,
    keys: list[str],
    state_schema: T.StructType,
    out_schema: T.StructType,
    init: tuple,
    step,
    order: list[str] | None = None,
) -> DataFrame:
    """Fold each key's rows into a small state and emit, as one
    ``applyInPandasWithState`` operator in update mode without timeouts.

    ``step(key, state, pdf) -> (new_state, rows)``: ``state`` is the
    key's stored tuple, or ``init`` for a new key (shared by every new
    key, so a step builds new values instead of mutating it); ``pdf`` is
    all of the key's rows in this micro-batch, sorted by ``order`` when
    given; ``rows`` are output tuples in ``out_schema`` field order,
    possibly none."""
    return df.groupBy(*keys).applyInPandasWithState(
        _scan_group(out_schema, init, step, order),
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- A17 EWMA soft update in keyed state ------------------------------------

EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("target", T.DoubleType()),
        T.StructField("n_batches", T.LongType()),
    ]
)
EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("target", T.DoubleType()),
        T.StructField("n_batches", T.LongType()),
    ]
)


def ewma_target_stream_gs(events: DataFrame, tau: float = 0.1) -> DataFrame:
    """``target = (1 - tau) * target + tau * batch_mean`` per event_type
    (reference ``soft_update``, ``fawac.py:15-17``, A17) with the target
    held in keyed GroupState.  The batch mean is computed over integer
    cents so the recurrence is float-exact vs a sequential replay
    (tests/test_streaming.py pins it against that replay and against the
    registered ``ewma_state_batch_equiv`` fold).
    """

    def step(key, st, pdf):
        target, batches = st
        mean = (int(pdf["value"].map(_money_cents).sum()) / 100.0) / len(pdf)
        target = mean if batches == 0 else (1 - tau) * target + tau * mean
        return (target, batches + 1), [(key[0], target, batches + 1)]

    return _keyed_scan(
        events, ["event_type"], EWMA_STATE_SCHEMA, EWMA_OUTPUT_SCHEMA, (0.0, 0), step
    )


def sliding_rollup_stream(events: DataFrame) -> DataFrame:
    """Watermarked sliding-window rollup, 1-hour window advancing every 15
    minutes (batch equiv: sliding_1h_15min_rollup). Each event expands
    into window/slide = 4 overlapping windows map-side."""
    return (
        _with_event_time(events)
        .withWatermark("ts_ltz", "2 hours")
        .groupBy(
            F.window("ts_ltz", "1 hour", "15 minutes").alias("win"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").cast("timestamp_ntz").alias("win_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


# --- A35 as a custom stateful operator (keyed scan) ------------------------

CAP_TOTAL_CENTS = 1000 * 100  # mirror batch_equiv.CAP_TOTAL in integer cents

CAPPED_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
CAPPED_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total_cents", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("stopped", T.BooleanType()),
    ]
)


def capped_totals_stream(events: DataFrame) -> DataFrame:
    """The reference's episode rollout (``rollout``, ``fawac.py:597-611``,
    A35) as a *custom stateful streaming operator*: per-user running
    accumulation with permanent early stop once the total reaches the cap
    (crossing event included).

    State per key is three scalars (integer cents — exact — plus a count
    and the stop flag), so the state store stays tiny and partitions by
    user.  Each micro-batch's rows fold in (ts, event_id) order, because
    intra-batch file order is not guaranteed, while cross-batch order is
    the arrival order of the CDC feed (batch equiv: capped_user_totals)."""

    def step(key, st, pdf):
        total_cents, n, stopped = st
        for v in pdf["value"]:
            if stopped:
                break
            total_cents += _money_cents(v)
            n += 1
            stopped = total_cents >= CAP_TOTAL_CENTS
        return (total_cents, n, stopped), [(key[0], n, total_cents / 100.0)]

    return _keyed_scan(
        events,
        ["user_id"],
        CAPPED_STATE_SCHEMA,
        CAPPED_OUTPUT_SCHEMA,
        (0, 0, False),
        step,
        order=["ts", "event_id"],
    )


def rate_source_stream(spark: SparkSession, rows_per_second: int = 500) -> DataFrame:
    """Built-in rate source shaped like the events feed — the local
    stand-in for a constant-throughput CDC/Kafka topic when no file feed
    exists (load tests, soak tests). Deterministic columns derived from
    the monotonically increasing ``value``."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").cast("timestamp_ntz").alias("ts"),
        F.pmod(F.col("value"), F.lit(100)).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("click", "view", "purchase")]),
            (F.pmod(F.col("value"), F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.col("value"), F.lit(500)) / 10.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )


def click_purchase_join_stream(events: DataFrame) -> DataFrame:
    """Stream-stream interval self-join: purchases matched to the same
    user's clicks in the prior 10 minutes (batch equiv:
    click_purchase_pairs).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can size the join state and expire rows — the
    canonical funnel/attribution shape. State is keyed by user_id and
    bounded to the watermark + 10-minute interval window.
    """
    e = _with_event_time(events)
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts_ltz").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts_ltz").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            "c_user_id = user_id AND "
            "c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"
        ),
    ).select("purchase_id", "click_id", "user_id", "click_value")


def click_purchase_left_join_stream(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream interval join (batch equiv:
    purchase_click_left_pairs): every purchase emits, matched pairs
    immediately and click-less purchases with NULL click columns once the
    watermark passes the end of their 10-minute lookback — the state
    store can then prove no match can arrive. The attribution shape where
    un-attributed conversions matter as much as attributed ones.

    Outer-join caveat baked into the API: unmatched rows whose interval
    the watermark has NOT yet closed are withheld, so a finite feed's
    tail purchases (within the 1-hour delay of the feed's max event time)
    produce no NULL row — tests compare inside the closable region.
    """
    e = _with_event_time(events)
    purchases = (
        e.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts_ltz").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts_ltz").alias("c_ts"),
            F.col("value").alias("click_value"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        F.expr(
            "c_user_id = user_id AND "
            "c_ts >= p_ts - INTERVAL 10 MINUTES AND c_ts < p_ts"
        ),
        "leftOuter",
    ).select("purchase_id", "click_id", "user_id", "click_value", "p_ts")


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join + rollup (batch equiv:
    stream_static_enrich). The static side broadcasts into every
    micro-batch — a map-side join, no watermark or state store needed
    because the dimension is not a stream."""
    return (
        events.join(F.broadcast(dim), events.user_id == dim.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


# --- A35 with event-time timeouts (applyInPandasWithState) -----------------

SESSION_CLOSE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampNTZType()),
        T.StructField("session_end", T.TimestampNTZType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
SESSION_CLOSE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def session_close_stream(events: DataFrame) -> DataFrame:
    """Inactivity-closed sessions via ``applyInPandasWithState`` with an
    EVENT-TIME TIMEOUT — the reference's episode rollout with early stop
    (``fawac.py:597-611``, A35) as a push-based stateful operator: a
    session row is EMITTED the moment the watermark passes
    ``last_event + gap``, instead of being recomputed by a batch query.

    Per user the state is the open session (start, last, n, cents);
    each batch folds its rows in (ts, event_id) order, emitting any
    sessions already closed by an in-batch gap, then sets the key's one
    timeout to ``last + gap`` (GroupState keeps a single timeout per
    key, so setting it replaces the previous one).  On timeout the
    session is emitted and the state removed.  State is per-user scalars
    in the state store, so the operator partitions horizontally like
    every other keyed pipeline.

    Batch equivalence: ``session_agg_30min_gap`` — every session whose
    close (last + gap) the final watermark passes is emitted with
    identical aggregates (tests/test_streaming.py pins it).
    """
    gap_us = SESSION_GAP_MIN * 60_000_000
    gap_ms = SESSION_GAP_MIN * 60_000

    def _emit(user_id, start_us, last_us, n, cents):
        return pd.DataFrame(
            {
                "user_id": pd.Series([user_id], dtype="int64"),
                "session_start": [pd.Timestamp(start_us, unit="us")],
                "session_end": [pd.Timestamp(last_us, unit="us")],
                "n_events": pd.Series([n], dtype="int64"),
                "total_value": pd.Series([cents / 100.0], dtype="float64"),
            }
        )

    def sessionize(key, pdf_iter, state):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, cents = state.get
            state.remove()
            yield _emit(user_id, start_us, last_us, n, cents)
            return
        if state.exists:
            start_us, last_us, n, cents = state.get
        else:
            start_us = last_us = None
            n = cents = 0
        frames = [pdf[["ts_ltz", "event_id", "value"]] for pdf in pdf_iter]
        pdf = pd.concat(frames).sort_values(["ts_ltz", "event_id"])
        for ts, v in zip(pdf["ts_ltz"], pdf["value"]):
            t_us = ts.value // 1000
            if start_us is None:
                start_us, last_us = t_us, t_us
            elif t_us > last_us + gap_us:
                yield _emit(user_id, start_us, last_us, n, cents)
                start_us, last_us, n, cents = t_us, t_us, 0, 0
            n += 1
            cents += _money_cents(v)
            last_us = max(last_us, t_us)
        state.update((start_us, last_us, n, cents))
        state.setTimeoutTimestamp(last_us // 1000 + gap_ms)

    return (
        _with_event_time(events)
        .withWatermark("ts_ltz", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            sessionize,
            outputStructType=SESSION_CLOSE_OUTPUT_SCHEMA,
            stateStructType=SESSION_CLOSE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- composite per-user profile state (keyed scan) ------------------------

PROFILE_TOP_K = 3

PROFILE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("upd_seq", T.LongType()),
        T.StructField("top_purchases", T.ArrayType(T.DoubleType())),
        T.StructField("n_types", T.IntegerType()),
        T.StructField("n_total", T.LongType()),
    ]
)
PROFILE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("top", T.ArrayType(T.DoubleType())),
        T.StructField("types", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("upd_seq", T.LongType()),
    ]
)


def stateful_user_profile_stream(events: DataFrame) -> DataFrame:
    """Running per-user profile as a keyed scan with a COMPOSITE state
    row: the running top-{PROFILE_TOP_K} purchase values, the event
    count per type, and an emission number (``upd_seq``) so consumers
    can identify the newest row in update mode.  The state partitions by
    user like every keyed pipeline; the top-k list is bounded and the
    per-type counts are bounded by the event-type domain, so state size
    is O(1) per user regardless of stream length.

    Batch equivalence: the final emission per user equals the one-shot
    batch profile (top-k purchase values, distinct type count, total
    events) — pinned in tests/test_streaming.py."""

    def step(key, st, pdf):
        top, types, counts, seq = st
        type_counts = dict(zip(types, counts))
        top = list(top)
        for et, v in zip(pdf["event_type"], pdf["value"]):
            type_counts[et] = type_counts.get(et, 0) + 1
            if et == "purchase":
                top.append(float(v))
        top = sorted(top, reverse=True)[:PROFILE_TOP_K]
        seq += 1
        n_types, n_total = len(type_counts), sum(type_counts.values())
        return (top, list(type_counts), list(type_counts.values()), seq), [
            (key[0], seq, top, n_types, n_total)
        ]

    return _keyed_scan(
        events,
        ["user_id"],
        PROFILE_STATE_SCHEMA,
        PROFILE_OUTPUT_SCHEMA,
        ([], [], [], 0),
        step,
    )


# --- document feed for the corpus gates on ingest ---------------------------

DOC_STREAM_SCHEMA = SCHEMAS["documents"]


def read_document_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-stream source over a directory of document parquet chunks —
    the local stand-in for a crawl feed arriving incrementally."""
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


# --- quality-aware near-dedup on ingest (round 11) --------------------------

QUALITY_LSH_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
        T.StructField("q", T.DoubleType()),
        T.StructField("key_ok", T.BooleanType()),
    ]
)
QUALITY_LSH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("best_doc", T.LongType()),
        T.StructField("best_q", T.DoubleType()),
    ]
)


def quality_lsh_dedup_stream(docs: DataFrame) -> DataFrame:
    """Quality-aware near-dedup ON INGEST: per MinHash-LSH band key the
    state retains the BEST document seen — highest uniq-token-ratio
    quality score (rounded 6 BEFORE comparison, repo convention), doc_id
    ascending as tiebreak — so an incoming near-duplicate REPLACES the retained doc
    when its quality is strictly higher, instead of first/smallest-id
    winning forever.  A document's key verdict is "became the survivor
    on this key at arrival"; its admission is the AND over its band
    keys, exactly the ``batch_equiv.quality_dedup_admissions`` closed
    form under id-ordered ingest (pinned stream==batch).

    ORDERING CONTRACT: the feed must arrive in doc_id order.  Verdicts
    are emitted at arrival and never retracted, so an out-of-order
    replay converges in state but emits first-arrival verdicts (there
    is no watermarked form of this gate).  State is two scalars per
    live band key, partitioned by the uniform md5-derived key."""
    from ..functions.dedup import band_table_for, minhash_signatures_for
    from ..functions.text import uniq_ratio_col

    # q is computed inline and THREADED through the signature/band maps
    # (a stream cannot re-join its own derivation in update mode).
    qdocs = docs.withColumn("q", F.round(uniq_ratio_col(), 6))
    bands = band_table_for(
        minhash_signatures_for(qdocs, carry=("q",)), carry=("q",)
    )

    def step(key, st, pdf):
        band, band_key = key
        best_doc, best_q = st
        rows = []
        for d, qv in zip(pdf["doc_id"].tolist(), pdf["q"].tolist()):
            better = best_doc is None or qv > best_q or (qv == best_q and d < best_doc)
            if better:
                best_doc, best_q = d, qv
            rows.append((d, band, band_key, qv, better))
        return (best_doc, best_q), rows

    return _keyed_scan(
        bands,
        ["band", "key"],
        QUALITY_LSH_STATE_SCHEMA,
        QUALITY_LSH_OUTPUT_SCHEMA,
        (None, None),
        step,
        order=["doc_id"],
    )


# --- event-time maturity buffer of the *_watermarked ingest gates -----------
#
# Arrivals are HELD in keyed state until the event-time watermark passes
# their ``ingest_ts``, then judged in deterministic (ingest_ts, id...)
# order.  Any feed whose ids are assigned in event-time order (the
# production case: ingest-sequence or timestamp-derived ids) matches the
# batch closed form under ARBITRARY arrival order, as long as disorder
# stays within the watermark delay; later rows are dropped (the
# documented boundary, pinned by each gate's late-arrival test).


def _pend_field(*fields: T.StructField) -> T.StructField:
    """The buffer's slot in a gate's state row (always the LAST field):
    buffered arrivals as ``(us, *fields)`` structs, ``us`` being the
    row's ``ingest_ts`` in µs."""
    return T.StructField(
        "pend",
        T.ArrayType(T.StructType([T.StructField("us", T.LongType()), *fields])),
    )


def _release_matured(state, pdf_iter, cols: tuple[str, ...]):
    """Buffer a gate's arrivals until the watermark passes them.

    Returns ``(mature, pend)``: ``mature`` are the rows to judge now,
    sorted as ``(us, *cols)`` tuples — (ingest_ts, id...) order, so a
    gate lists its id columns first; ``pend`` is what the gate stores
    back as the last field of its state row.  The rules:

    - a NEW arrival at or behind the watermark is late beyond the delay
      and is dropped, never judged — Spark's upstream late-row drop is
      best-effort for arbitrary stateful ops (see the append-rollup
      test's note), so the boundary is enforced here;
    - a BUFFERED row at or behind the watermark arrived on time and has
      matured;
    - while rows stay pending, the event-time timeout is re-armed at the
      oldest pending ms + 1 (strictly beyond the current watermark after
      the µs → ms floor), so the key fires again once it can release.
    """
    wm_us = state.getCurrentWatermarkMs() * 1000
    pend = list(state.get[-1]) if state.exists else []
    for pdf in pdf_iter:
        # pandas Timestamp .value is ns since epoch; values go through
        # tolist() so the state pickles plain Python types
        us = [ts.value // 1000 for ts in pdf["ingest_ts"]]
        vals = [
            [v.tolist() if hasattr(v, "tolist") else v for v in pdf[c].tolist()]
            for c in cols
        ]
        pend += [row for row in zip(us, *vals) if row[0] > wm_us]
    mature = sorted(row for row in pend if row[0] <= wm_us)
    pend = [row for row in pend if row[0] > wm_us]
    if pend:
        state.setTimeoutTimestamp(min(row[0] for row in pend) // 1000 + 1)
    return mature, pend


DOC_TS_STREAM_SCHEMA = T.StructType(
    list(DOC_STREAM_SCHEMA) + [T.StructField("ingest_ts", T.TimestampType())]
)

LSH_DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("key", T.StringType()),
        T.StructField("key_ok", T.BooleanType()),
    ]
)
# first_doc uses -1 as the "no survivor yet" sentinel (state tuples
# round-trip more robustly without nullable scalars).
WM_LSH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_doc", T.LongType()),
        _pend_field(T.StructField("doc_id", T.LongType())),
    ]
)


def read_document_stream_ts(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-stream source over document chunks that carry an
    ``ingest_ts`` event-time column (the watermarked feed shape)."""
    return (
        spark.readStream.schema(DOC_TS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def lsh_dedup_stream_watermarked(
    docs: DataFrame, delay: str = "10 minutes"
) -> DataFrame:
    """Near-dedup ON INGEST: MinHash-LSH admission as a custom stateful
    streaming operator.  Each document is checked against every document
    seen before it WITHOUT storing any document, only the LSH band state
    (the smallest doc_id seen per live band key).  The band table is a
    pure per-row map (``dedup.band_table_for`` over
    ``minhash_signatures_for``, the batch path's expressions), so the
    only shuffle is the state-store partitioning on the uniform
    md5-derived band key.  An arriving document's verdict is deferred,
    buffered in state, until the event-time watermark passes its
    ``ingest_ts``; then every matured arrival on the key is judged in
    (ingest_ts, doc_id) order: key_ok iff it is smaller than every
    earlier doc on the key.  A document's admission (computed
    downstream, e.g. in the sink) is the AND over its band keys.

    ORDERING CONTRACT: admission equals the batch closed form
    (``batch_equiv.lsh_dedup_admissions``) for ANY arrival order,
    provided (a) doc ids are assigned in event-time order — true by
    construction for ingest-sequence ids — and (b) each row's disorder
    is within the watermark ``delay`` (later rows are dropped at the
    state handler and never admitted: the boundary the late-arrival
    test pins).  Because verdicts are emitted at watermark maturity, not
    at arrival, a larger-id near-duplicate that arrives first cannot be
    admitted alongside the smaller id.

    100 TB shape: state per band key is the survivor id plus ONLY the
    in-flight rows inside the watermark horizon (O(delay × key rate),
    not O(corpus)); emission shifts one watermark delay later, the
    standard completeness/latency trade.  Verdicts for a doc can land
    in different micro-batches per band key; the per-doc admission
    reduction (AND over keys) is unchanged."""
    from ..functions.dedup import band_table_for, minhash_signatures_for

    wdocs = docs.withWatermark("ingest_ts", delay)
    bands = band_table_for(
        minhash_signatures_for(wdocs, carry=("ingest_ts",)), carry=("ingest_ts",)
    )

    def admit(key, pdf_iter, state):
        band, band_key = key
        first = state.get[0] if state.exists else -1
        mature, pend = _release_matured(state, pdf_iter, ("doc_id",))
        rows = []
        for _, d in mature:
            ok = first < 0 or d < first
            if ok:
                first = d
            rows.append((d, band, band_key, ok))
        state.update((first, pend))
        if rows:
            yield _frame(rows, LSH_DEDUP_OUTPUT_SCHEMA)

    return bands.groupBy("band", "key").applyInPandasWithState(
        admit,
        outputStructType=LSH_DEDUP_OUTPUT_SCHEMA,
        stateStructType=WM_LSH_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- semantic dedup on ingest (streaming SemDeDup admission) ---------------

EMB_TS_STREAM_SCHEMA = T.StructType(
    list(SCHEMAS["embeddings"]) + [T.StructField("ingest_ts", T.TimestampType())]
)

SEM_DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cent_id", T.LongType()),
        T.StructField("n_earlier_dups", T.LongType()),
        T.StructField("admitted", T.BooleanType()),
    ]
)
# Per-cell state: every judged vector in the cell (ids +
# row-major flat embedding matrix + hoisted norms) plus the pending
# buffer of not-yet-mature arrivals.  Embeddings ARE the
# state here — unlike the LSH path there is no sketch that preserves
# cosine exactly, so the honest per-cell memory is O(cell vectors x dim),
# which is the point of the cell blocking: k ~ sqrt(n) keeps each cell's
# slab bounded and the state store spreads cells across executors.
WM_SEM_DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("flat", T.ArrayType(T.DoubleType())),
        T.StructField("nrms", T.ArrayType(T.DoubleType())),
        _pend_field(
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ),
    ]
)


def read_embedding_stream_ts(spark: SparkSession, source_dir: str) -> DataFrame:
    """File-stream source over embedding chunks that carry an
    ``ingest_ts`` event-time column — the local stand-in for an
    embedding feed arriving incrementally."""
    return (
        spark.readStream.schema(EMB_TS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def semantic_dedup_stream_watermarked(
    embs: DataFrame,
    centroids: list[tuple[int, list[float]]],
    delay: str = "10 minutes",
) -> DataFrame:
    """Semantic dedup ON INGEST: each arriving vector is routed to its
    nearest seed centroid (pure per-batch Arrow map, no pre-shuffle) and
    buffered, with its embedding, in per-cell state until the event-time
    watermark passes its ``ingest_ts``; then every matured arrival is
    judged in (ingest_ts, vec_id) order and admitted iff no vector
    judged before it in that cell lies within ``SEMDEDUP_COS``.  Every
    judged vector joins the cell's seen set (conservative non-recursive
    admission, the ``incremental_lsh_dedup`` convention).

    ``centroids`` is the frozen coarse quantizer — (cent_id, vector)
    pairs sorted by cent_id, k ~ sqrt(n) entries, closed over by the
    routing UDF exactly like the batch k-means cycle collects its k x d
    matrix (similarity.py); at 100 TB this is a few MB broadcast with
    the task closure, never a join.  Cosines round to 6 before both the
    argmax and the threshold (the engine-portability convention shared
    with `cosine_assigned_cells`), with ties to the lower cent_id.
    Caveat shared by every cross-engine rounding seam in this repo:
    numpy's scaled-multiply round vs the JVM's decimal HALF_UP can
    disagree within ~1 ulp of a 1e-6 boundary, so stream==batch
    equality is exact up to that measure-near-zero set (the fixture
    suite crosses no boundary).

    ORDERING CONTRACT: admission equals the batch closed form
    (``batch_equiv.semantic_dedup_admissions``) for ANY arrival order,
    provided (a) vec ids are assigned in event-time order (true by
    construction for ingest-sequence ids) and (b) each row's disorder is
    within the watermark ``delay`` — later rows are dropped at the state
    handler (the boundary the late-arrival test pins), never admitted.
    Of each close pair the smallest id, the batch form's survivor, is
    the one admitted.

    100 TB shape: routing is embarrassingly parallel; the only shuffle
    is the state-store partitioning on the cell key.  The seen-set state
    is the honest O(cell vectors x dim) slab; buffering adds only the
    in-flight rows inside the watermark horizon.  A hot cell is a real
    skew risk (unlike md5 band keys); raise k to split it."""
    import numpy as np

    from ..functions.similarity import EMB_DIM, SEMDEDUP_COS

    cids = [int(c) for c, _ in centroids]
    assert cids == sorted(cids), "centroids must be sorted by cent_id"
    cmat = np.asarray([v for _, v in centroids], dtype=np.float64)
    cnrm = np.sqrt((cmat * cmat).sum(axis=1))
    cid_arr = np.asarray(cids, dtype=np.int64)

    @F.pandas_udf("long")
    def route(emb: pd.Series) -> pd.Series:
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in emb], dtype=np.float64
        )
        nrm = np.sqrt((mat * mat).sum(axis=1))
        cos = np.round((mat @ cmat.T) / (nrm[:, None] * cnrm[None, :]), 6)
        return pd.Series(cid_arr[np.argmax(cos, axis=1)])

    routed = embs.withWatermark("ingest_ts", delay).select(
        "vec_id", "embedding", "ingest_ts", route("embedding").alias("cent_id")
    )

    def admit(key, pdf_iter, state):
        cent_id = int(key[0])
        if state.exists:
            ids, flat, nrms, _ = state.get
            ids = list(ids)
            prior = np.asarray(flat, dtype=np.float64).reshape(len(ids), EMB_DIM)
            prior_nrm = np.asarray(nrms, dtype=np.float64)
        else:
            ids = []
            prior = np.zeros((0, EMB_DIM))
            prior_nrm = np.zeros(0)
        mature, pend = _release_matured(state, pdf_iter, ("vec_id", "embedding"))
        # One preallocated (state + matured) slab, filled in place — a
        # per-row np.vstack would re-copy the whole matrix per arrival
        # (O(m^2 d) per micro-batch, worst exactly on a hot cell).
        n_prior, n_new = prior.shape[0], len(mature)
        mat = np.empty((n_prior + n_new, EMB_DIM))
        mat[:n_prior] = prior
        nrm = np.empty(n_prior + n_new)
        nrm[:n_prior] = prior_nrm
        rows = []
        for j, (_, vid, vec) in enumerate(mature):
            seen = n_prior + j
            vec = np.asarray(vec, dtype=np.float64)
            vnrm = float(np.sqrt((vec * vec).sum()))
            if seen:
                cos = np.round((mat[:seen] @ vec) / (nrm[:seen] * vnrm), 6)
                n_dups = int((cos >= SEMDEDUP_COS).sum())
            else:
                n_dups = 0
            rows.append((vid, cent_id, n_dups, n_dups == 0))
            ids.append(vid)
            mat[seen] = vec
            nrm[seen] = vnrm
        state.update((ids, mat.reshape(-1).tolist(), nrm.tolist(), pend))
        if rows:
            yield _frame(rows, SEM_DEDUP_OUTPUT_SCHEMA)

    return routed.groupBy("cent_id").applyInPandasWithState(
        admit,
        outputStructType=SEM_DEDUP_OUTPUT_SCHEMA,
        stateStructType=WM_SEM_DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- token-budget gate on ingest (round 7) ----------------------------------

TOKEN_BUDGET_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("ntok", T.LongType()),
        T.StructField("admitted", T.BooleanType()),
    ]
)
# Per-source state: total tokens charged so far (admitted or not —
# prefix-truncation semantics, one BIGINT per source) plus the pending
# buffer of not-yet-mature arrivals; matured rows charge the budget in
# (ingest_ts, ord_key) order.
WM_TOKEN_BUDGET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("seen_tokens", T.LongType()),
        _pend_field(
            T.StructField("ord_key", T.StringType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("ntok", T.LongType()),
        ),
    ]
)


def token_budget_stream_watermarked(
    docs: DataFrame, delay: str = "10 minutes"
) -> DataFrame:
    """Token-budget gate ON INGEST: arrivals are buffered until the
    event-time watermark passes their ``ingest_ts``, then charged to
    their source's running token total in (ingest_ts, ord_key) order; a
    document is admitted iff the total (counting every document charged,
    admitted or not) has not yet exceeded ``TOKEN_BUDGET_PER_SOURCE``.
    Charging every arrival (prefix truncation, the
    ``token_budget_admissions`` closed form) makes the decision a pure
    function of the token PREFIX, never of earlier admission outcomes —
    which is what makes the batch closed form a single window cumsum
    instead of a sequential recursion.

    ORDERING CONTRACT: admission equals the batch closed form
    (``batch_equiv.token_budget_admissions``) for ANY arrival order,
    provided (a) event times are assigned in ord_key order — true by
    construction when the feed is a curriculum replay of the
    ``shuffled_shard_manifest`` permutation stamping ``ingest_ts`` at
    replay time — and (b) disorder stays within ``delay`` (later rows
    are dropped at the state handler, never charged or admitted: the
    documented completeness/latency trade, pinned by the late-arrival
    test).

    100 TB shape: the per-row map (ntok + ord_key md5) runs inside the
    micro-batch; the only shuffle is the state-store partitioning on
    source.  State per source is one BIGINT plus only the in-flight rows
    inside the watermark horizon (doc ids + token counts — no text).  A
    power-law hot source concentrates its decisions on one state
    partition, but the per-row work there is a compare and an add; the
    heavy lifting (tokenize/dedup downstream) is gated BEHIND the
    admission, which is the point of running the budget at ingest."""
    from ..functions.traindata import TOKEN_BUDGET_PER_SOURCE, _shuffle_cols

    ord_key, _ = _shuffle_cols()
    keyed = docs.withWatermark("ingest_ts", delay).select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("ntok"),
        ord_key.alias("ord_key"),
        "ingest_ts",
    )

    def admit(key, pdf_iter, state):
        (source,) = key
        seen = state.get[0] if state.exists else 0
        mature, pend = _release_matured(
            state, pdf_iter, ("ord_key", "doc_id", "ntok")
        )
        rows = []
        for _, _, doc_id, ntok in mature:
            seen += ntok
            rows.append((doc_id, source, ntok, seen <= TOKEN_BUDGET_PER_SOURCE))
        state.update((seen, pend))
        if rows:
            yield _frame(rows, TOKEN_BUDGET_OUTPUT_SCHEMA)

    return keyed.groupBy("source").applyInPandasWithState(
        admit,
        outputStructType=TOKEN_BUDGET_OUTPUT_SCHEMA,
        stateStructType=WM_TOKEN_BUDGET_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# --- span dedup on ingest (streaming exact-substring removal) ---------------

SPAN_DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("dup", T.BooleanType()),
    ]
)
# Per-gram state: the smallest owning doc_id (-1 sentinel for "no owner
# yet", the WM_LSH convention) plus the pending (ts, doc, start) buffer.
WM_SPAN_DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_doc", T.LongType()),
        _pend_field(
            T.StructField("doc_id", T.LongType()),
            T.StructField("i", T.IntegerType()),
        ),
    ]
)


def span_dedup_stream_watermarked(
    docs: DataFrame, delay: str = "10 minutes"
) -> DataFrame:
    """Exact-substring span dedup ON INGEST — the streaming form of
    ``batch_equiv.span_removal_firstseen`` (the apply half of Lee et al.
    2022 in incremental form): each arriving document's positioned
    n-grams are buffered per gram until the watermark passes their
    document's ``ingest_ts``, then judged in (ingest_ts, doc_id) order
    against a per-gram state holding the smallest doc_id seen; a gram
    occurrence is flagged ``dup`` iff a strictly smaller doc already owns
    it.  The document rewrite (maximal dup runs -> marker) happens
    downstream from the emitted verdicts via
    ``functions.dedup.rewrite_excising`` — the stream never stores or
    re-emits text, only (doc_id, gram-start, verdict).  The gram table
    is a pure per-row map (``positioned_grams``, the batch path's
    expression, with the event-time column carried through the explode);
    the only shuffle is the state-store partitioning on the md5-derived
    gram hash — uniform by construction.

    ORDERING CONTRACT: verdicts equal the batch closed form
    (``batch_equiv.span_removal_firstseen_df``) for ANY arrival order,
    provided doc ids are assigned in event-time order and disorder stays
    within ``delay`` (later rows are dropped at the state handler — the
    late-arrival boundary test).  The smallest doc_id keeps its spans,
    matching Lee et al.'s batch first-occurrence semantics.

    100 TB shape: state per gram is one long plus the in-flight
    occurrences inside the watermark horizon — the suffix-array-free
    incarnation of the Lee et al. pipeline, spread across executors by
    the state store; daily cost is O(|batch| grams), never a corpus
    rescan.

    Watermark-advancement caveat: documents shorter than the gram
    length are filtered out before the explode, and the optimizer can
    evaluate that filter before the event-time stats are collected — so
    only rows that SURVIVE to the gram table advance the watermark
    (observed under Spark 4.1; the watermarked tests' flush docs carry
    >= n tokens for exactly this reason).  A production feed with any
    steady flow of gram-bearing documents advances normally."""
    from ..functions.dedup import SUBSTRING_GRAM_N, positioned_grams

    t = docs.withWatermark("ingest_ts", delay).select(
        "doc_id", F.split("text", " ").alias("toks"), "ingest_ts"
    )
    grams = positioned_grams(t, SUBSTRING_GRAM_N, carry=("ingest_ts",))

    def probe(key, pdf_iter, state):
        first = state.get[0] if state.exists else -1
        mature, pend = _release_matured(state, pdf_iter, ("doc_id", "i"))
        rows = []
        for _, d, i in mature:
            rows.append((d, i, first >= 0 and first < d))
            first = d if first < 0 else min(first, d)
        state.update((first, pend))
        if rows:
            yield _frame(rows, SPAN_DEDUP_OUTPUT_SCHEMA)

    return grams.groupBy("gram").applyInPandasWithState(
        probe,
        outputStructType=SPAN_DEDUP_OUTPUT_SCHEMA,
        stateStructType=WM_SPAN_DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def decontam_span_stream(docs: DataFrame, eval_grams: DataFrame) -> DataFrame:
    """Decontamination ON INGEST — the streaming twin of
    ``functions.decontam.decontam_span_removal``.  Unlike the dedup
    streams this one is STATELESS: the eval gram set is a fixed artifact
    (benchmarks don't grow with the corpus), so it joins the arriving
    documents' positioned grams as a static broadcast side — a
    stream-static equi-join, no state store at all, which is exactly why
    decontamination is the cheapest hygiene gate to run on ingest.
    Emits (doc_id, i) for every contaminated gram START; the rewrite
    (coverage expand -> gaps-and-islands -> marker) happens downstream
    via ``functions.dedup.rewrite_excising``, same as the span-dedup
    stream.  Verdicts are per-document facts (no cross-doc state), so
    stream==batch holds under ANY arrival order — no ordering contract
    needed, pinned in ``tests/test_streaming.py``.
    """
    from ..functions.decontam import _GRAM_N
    from ..functions.dedup import positioned_grams

    t = docs.select("doc_id", F.split("text", " ").alias("toks"))
    grams = positioned_grams(t, _GRAM_N)
    return grams.join(F.broadcast(eval_grams.select("gram")), "gram").select(
        "doc_id", "i"
    )


# --- Holt level+trend smoothing ON INGEST (round 10) --------------------------

HOLT_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("rn", T.IntegerType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("forecast", T.DoubleType()),
    ]
)
HOLT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("rn", T.LongType()),
    ]
)


def holt_stream(events: DataFrame) -> DataFrame:
    """Holt double-exponential smoothing ON INGEST — the streaming twin
    of ``operators.windows.holt_smoothed_values`` as a keyed scan:
    per-user (level, trend, rn) live in keyed state, each event, in
    (ts, event_id) order within its micro-batch, advances the recurrence
    once and emits its smoothed row.  Same a=b=0.5 arithmetic
    (every multiply exact) and the same round(6)-after-1e-9-nudge as the
    batch scan, so under ts-ordered ingest stream == batch exactly
    (pinned in tests/test_streaming.py).

    State per key is two doubles and a counter — tiny, partitioned by
    user.  Events beyond the 30-event prefix are consumed (state counts
    them) but emit nothing, matching the batch prefix contract.
    """
    from ..operators.windows import _HOLT_PREFIX, HOLT_ALPHA, HOLT_BETA

    def step(key, st, pdf):
        level, trend, rn = st
        rows = []
        for eid, x in zip(pdf["event_id"].tolist(), pdf["value"].tolist()):
            rn += 1
            if rn > _HOLT_PREFIX:
                continue
            if rn == 1:
                level, trend = x, 0.0
            else:
                new_level = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (level + trend)
                trend = HOLT_BETA * (new_level - level) + (1.0 - HOLT_BETA) * trend
                level = new_level
            rows.append(
                (
                    key[0],
                    eid,
                    rn,
                    round(level + 1e-9, 6),
                    round(trend + 1e-9, 6),
                    round(level + trend + 1e-9, 6),
                )
            )
        return (level, trend, rn), rows

    return _keyed_scan(
        events,
        ["user_id"],
        HOLT_STATE_SCHEMA,
        HOLT_OUTPUT_SCHEMA,
        (0.0, 0.0, 0),
        step,
        order=["ts", "event_id"],
    )


# --- snapshot retention vacuum (round 10) --------------------------------------


def vacuum_state(state_dir: str, retain_last: int = 2) -> dict[str, int]:
    """Expire old snapshot versions and reclaim unreferenced data files —
    the VACUUM / expire_snapshots maintenance half of the manifest store
    (Delta/Iceberg retention semantics on the same machinery
    ``read_upsert_state`` time-travels over).

    Keeps the newest ``retain_last`` manifests; every older manifest is
    deleted, then every data file under ``data/`` that no RETAINED
    manifest references is removed (manifests reference immutable bucket
    directories, so liveness is the union of retained manifests' bucket
    paths — a file shared with a retained epoch survives, exactly like
    Iceberg's reachability rule).  Time travel to retained versions keeps
    working; reading an expired version raises, loudly, as
    ``read_upsert_state`` already does for unknown versions.

    Returns reclamation stats.  Scale note: this is a pure manifest walk
    + file listing — O(retained manifests + files under the store), no
    Spark job; on object storage the deletes batch.
    """
    import shutil

    versions = state_versions(state_dir)
    if retain_last < 1:
        raise ValueError("retain_last must be >= 1")
    expired = versions[:-retain_last] if len(versions) > retain_last else []
    retained = [v for v in versions if v not in expired]

    live_rel: set[str] = set()
    for v in retained:
        live_rel.update(_read_manifest(state_dir, v).values())
    live_abs = {os.path.normpath(os.path.join(state_dir, rel)) for rel in live_rel}

    n_files = 0
    n_bytes = 0
    data_root = os.path.join(state_dir, "data")
    if os.path.isdir(data_root):
        # walk epoch/bucket dirs bottom-up; a dir survives iff it is (or
        # contains) a live referenced path
        for root, dirs, files in os.walk(data_root, topdown=False):
            norm = os.path.normpath(root)
            if any(norm == p or norm.startswith(p + os.sep) for p in live_abs):
                continue
            if any(p.startswith(norm + os.sep) for p in live_abs):
                continue  # ancestor of a live dir — keep the shell
            for f in files:
                fp = os.path.join(root, f)
                n_bytes += os.path.getsize(fp)
                n_files += 1
                os.remove(fp)
            if not os.listdir(root):
                shutil.rmtree(root, ignore_errors=True)

    for v in expired:
        os.remove(os.path.join(state_dir, f"v{v}.json"))

    return {
        "n_versions_expired": len(expired),
        "n_versions_retained": len(retained),
        "n_files_removed": n_files,
        "bytes_reclaimed": n_bytes,
    }


# --- Holt–Winters smoothing on ingest (round 11) ----------------------------
#
# Streaming twin of operators.windows.holt_winters_hourly: the hourly
# count series arrives as a metrics feed and each (event_type)-keyed
# scan advances the triple recurrence once per row, in rn order within
# a micro-batch.  State is the honest forecaster state — 2 floats, the
# 24-slot seasonal vector, and (during warmup) the first-period buffer
# used to seed level/season.

HW_SERIES_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("rn", T.IntegerType()),
        T.StructField("n_events", T.LongType()),
    ]
)
HW_STREAM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("rn", T.IntegerType()),
        T.StructField("hour_slot", T.IntegerType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("seasonal", T.DoubleType()),
        T.StructField("onestep", T.DoubleType()),
    ]
)
HW_STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("rn_seen", T.LongType()),
        T.StructField("buf", T.ArrayType(T.LongType())),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("season", T.ArrayType(T.DoubleType())),
    ]
)


def holt_winters_stream(series: DataFrame) -> DataFrame:
    """Additive Holt–Winters ON INGEST over a streaming hourly-count
    series — identical α=β=γ={0.5} arithmetic, first-period seeding, and
    round(6)-after-nudge as the batch scan, so under rn-ordered ingest
    stream == batch exactly (pinned in tests/test_streaming.py).

    Rows with rn inside the first period are absorbed into the seed
    buffer and emit nothing (the batch contract); every later row emits
    its smoothed (level, trend, seasonal, one-step-forecast) tuple.
    State per event type: the warmup buffer (≤24 longs, dropped after
    seeding), two floats, and the 24-slot seasonal vector."""
    from ..operators.windows import HW_ALPHA, HW_BETA, HW_GAMMA, HW_PERIOD

    def step(key, st, pdf):
        m = HW_PERIOD
        rn_seen, buf, level, trend, season = st
        buf, season = list(buf or []), list(season or [])
        rows = []
        for rn, x in zip(pdf["rn"].tolist(), pdf["n_events"].tolist()):
            rn_seen += 1
            if rn_seen <= m:
                buf.append(x)
                if rn_seen == m:
                    level = float(sum(buf)) / m
                    trend = 0.0
                    season = [float(v) - level for v in buf]
                    buf = []
                continue
            t = rn_seen - 1  # 0-based step index, matches the batch scan
            slot = t % m
            xv = float(x)
            new_level = HW_ALPHA * (xv - season[slot]) + (1.0 - HW_ALPHA) * (
                level + trend
            )
            trend = HW_BETA * (new_level - level) + (1.0 - HW_BETA) * trend
            season[slot] = (
                HW_GAMMA * (xv - new_level) + (1.0 - HW_GAMMA) * season[slot]
            )
            level = new_level
            rows.append(
                (
                    key[0],
                    rn,
                    slot,
                    x,
                    round(level + 1e-9, 6),
                    round(trend + 1e-9, 6),
                    round(season[slot] + 1e-9, 6),
                    round(level + trend + season[(t + 1) % m] + 1e-9, 6),
                )
            )
        return (rn_seen, buf, level, trend, season), rows

    return _keyed_scan(
        series,
        ["event_type"],
        HW_STREAM_STATE_SCHEMA,
        HW_STREAM_OUTPUT_SCHEMA,
        (0, [], 0.0, 0.0, []),
        step,
        order=["rn"],
    )


# --- Page–Hinkley drift detection on ingest (round 12 extension) -------------
#
# Streaming twin of operators.stats_ext.page_hinkley_by_type: the
# day-ordered per-type daily-mean series arrives as a metrics feed
# (operators.stats_ext.ph_daily_series is the feed contract, carrying
# the PINNED reference mean — the monitoring semantics where the
# baseline was fit offline and ingest only advances the detector), and
# each (event_type)-keyed scan advances run/running-min once per row,
# in rn order within a micro-batch.  Identical float op order to the
# batch window scan, so under rn-ordered ingest stream == batch exactly
# (pinned in tests/test_streaming.py).  State per type: the row count,
# the running sum and its running minimum.

PH_SERIES_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("rn", T.IntegerType()),
        T.StructField("day", T.StringType()),
        T.StructField("m", T.DoubleType()),
        T.StructField("mu", T.DoubleType()),
    ]
)

PH_STREAM_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("rn", T.IntegerType()),
        T.StructField("day", T.StringType()),
        T.StructField("ph", T.DoubleType()),
        T.StructField("alarmed", T.IntegerType()),
    ]
)

PH_STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("rn_seen", T.IntegerType()),
        T.StructField("run", T.DoubleType()),
        T.StructField("runmin", T.DoubleType()),
    ]
)


def page_hinkley_stream(series: DataFrame) -> DataFrame:
    """Page–Hinkley ON INGEST — see the section comment for the feed
    contract and the stream==batch argument.  Emits every row's rounded
    PH statistic and its alarm flag (ph > λ, compared AFTER round(6),
    the batch op's bounds-before-compare rule)."""
    from ..operators.stats_ext import PH_DELTA, PH_LAMBDA

    def step(key, st, pdf):
        rn_seen, run, runmin = st
        rows = []
        for rn, day, m, mu in zip(
            pdf["rn"].tolist(), pdf["day"], pdf["m"].tolist(), pdf["mu"].tolist()
        ):
            rn_seen += 1
            run += m - mu - PH_DELTA
            runmin = run if runmin is None else min(runmin, run)
            # round(6) with the repo's +1e-9 half-way-tie nudge, now
            # applied symmetrically on the batch op and oracle too
            # (operators/stats_ext.py page_hinkley_by_type, ADVICE r12)
            # — Python round() is banker's, SQL ROUND is half-up.
            ph = round(run - runmin + 1e-9, 6)
            rows.append((key[0], rn, day, ph, int(ph > PH_LAMBDA)))
        return (rn_seen, run, runmin), rows

    return _keyed_scan(
        series,
        ["event_type"],
        PH_STREAM_STATE_SCHEMA,
        PH_STREAM_OUTPUT_SCHEMA,
        (0, 0.0, None),
        step,
        order=["rn"],
    )


# --- dispersion (Fano) index on ingest (round 12 extension) -------------------
#
# Streaming twin of operators.stats_ext.dispersion_index_hourly: the
# zero-filled hourly count series (operators.windows.hourly_count_spine
# is the feed contract) maintains exact INTEGER moments (n, Σx, Σx²) per
# event type.  The moments are associative, so the engine's own
# streaming aggregation maintains them (the maintained-aggregate model
# of incremental view maintenance) — no Python worker, no hand-written
# state.  Every emission's moments are exactly the batch scan's over the
# rows seen so far, and at end-of-feed stream == batch with NO float
# caveat at all (the statistic derives from the integer moments).

DISP_SERIES_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("rn", T.IntegerType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def dispersion_stream(series: DataFrame) -> DataFrame:
    """Exact running count moments ON INGEST — see the section comment.
    In update mode it emits the per-type (n_hours, sx, sxx) of every type
    a micro-batch touched; the Fano index is a pure function of the final
    emission (the batch op's formula), so the stream==batch pin compares
    integers."""
    x = F.col("n_events")
    return series.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.sum(x).alias("sx"),
        F.sum(x * x).alias("sxx"),
    )
