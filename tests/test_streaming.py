"""Stream-batch parity tests for the Structured Streaming CDC pipelines.

The batch equivalents in ``streaming/batch_equiv.py`` are oracle-checked
against DuckDB; these tests pin the streaming implementations to those
same results, closing the loop streaming == batch == oracle.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from fawac_cdc_spark.catalog import SCHEMAS, load_table
from fawac_cdc_spark.streaming import cdc
from fawac_cdc_spark.streaming.batch_equiv import (
    cdc_latest_state_per_user,
    hourly_event_rollup,
    session_agg_30min_gap,
    stream_dedup_first_event,
)
from tools.parity import compare_frames

N_CHUNKS = 4


@pytest.fixture(scope="module")
def chunk_dir(spark, sf_dir, tmp_path_factory):
    """Split events into N ts-ordered parquet chunks — each chunk becomes
    one micro-batch (arrival order == event-time order, like a CDC feed)."""
    tbl = load_table(spark, sf_dir, "events")
    e = tbl.orderBy("ts", "event_id").collect()
    per = (len(e) + N_CHUNKS - 1) // N_CHUNKS
    chunks = [e[i * per : (i + 1) * per] for i in range(N_CHUNKS)]
    return _write_chunk_feed(
        spark, tmp_path_factory.mktemp("event_stream"), "feed", chunks, tbl.schema
    )


def _run_to_memory(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def test_hourly_rollup_stream_matches_batch(spark, sf_dir, chunk_dir):
    events = cdc.read_event_stream(spark, chunk_dir)
    got = _run_to_memory(
        spark, cdc.hourly_rollup_stream(events), "hourly_out", "complete"
    ).toPandas()
    want = (
        hourly_event_rollup(spark, sf_dir)
        .withColumn("hour", F.col("hour").cast("timestamp_ntz"))
        .toPandas()
    )
    got["hour"] = pd.to_datetime(got["hour"])
    assert not compare_frames(got, want)


def test_dedup_first_stream_matches_batch(spark, sf_dir, chunk_dir):
    events = cdc.read_event_stream(spark, chunk_dir)
    got = _run_to_memory(
        spark, cdc.dedup_first_stream(events), "dedup_out", "append"
    ).toPandas()
    want = stream_dedup_first_event(spark, sf_dir).toPandas()
    assert not compare_frames(got, want)


def test_session_window_stream_matches_batch(spark, sf_dir, chunk_dir):
    events = cdc.read_event_stream(spark, chunk_dir)
    got = _run_to_memory(
        spark, cdc.session_window_stream(events), "session_out", "complete"
    ).toPandas()
    want = (
        session_agg_30min_gap(spark, sf_dir)
        .select("user_id", "session_start", "n_events", "total_value")
        .toPandas()
    )
    assert not compare_frames(got, want)


def test_cdc_upsert_matches_batch(spark, sf_dir, chunk_dir, tmp_path):
    final = cdc.cdc_upsert_run(
        spark,
        chunk_dir,
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    ).toPandas()
    want = cdc_latest_state_per_user(spark, sf_dir).toPandas()
    assert not compare_frames(final, want)


def test_cdc_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Incremental MERGE contract: a micro-batch whose keys hash into one
    bucket must leave every other bucket's data files untouched on disk —
    the new manifest re-references them byte-identically."""
    import glob
    import hashlib
    import os
    import time

    from pyspark.sql import types as T

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    scratch = tmp_path / "scratch"
    schema = cdc.EVENT_STREAM_SCHEMA

    def write_chunk(name, rows, mtime):
        # FileStreamSource wants a flat file list ordered by mtime
        d = scratch / name
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(str(d))
        (part,) = sorted(d.rglob("part-*.parquet"))
        dest = feed_dir / name
        dest.write_bytes(part.read_bytes())
        os.utime(dest, (mtime, mtime))

    def ts(s):
        import datetime

        return datetime.datetime(2024, 1, 1, 0, 0, s)

    base = time.time() - 3600
    # chunk 1: users 0..63 (spread over every bucket)
    write_chunk(
        "c1.parquet",
        [(i, ts(1), i, "click", 1.0, None) for i in range(64)],
        base,
    )
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    cdc.cdc_upsert_run(spark, str(feed_dir), state_dir, ckpt)

    m1 = cdc._read_manifest(state_dir)

    def file_hashes(reldir):
        out = {}
        for p in sorted(glob.glob(os.path.join(state_dir, reldir, "*.parquet"))):
            with open(p, "rb") as fh:
                out[p] = hashlib.md5(fh.read()).hexdigest()
        return out

    pre = {k: file_hashes(rel) for k, rel in m1.items()}

    # chunk 2: a single user -> exactly one bucket touched
    write_chunk("c2.parquet", [(1000, ts(2), 0, "purchase", 2.0, None)], base + 10)
    final = cdc.cdc_upsert_run(spark, str(feed_dir), state_dir, ckpt)

    m2 = cdc._read_manifest(state_dir)

    changed = [k for k in m2 if m2[k] != m1.get(k)]
    assert len(changed) == 1, f"expected 1 rewritten bucket, got {changed}"
    for k in m2:
        if k in changed:
            continue
        assert m2[k] == m1[k]
        assert file_hashes(m2[k]) == pre[k], f"bucket {k} data files changed"

    # and the merge itself is correct: user 0 now maps to the purchase
    row = {r["user_id"]: r for r in final.collect()}
    assert row[0]["last_type"] == "purchase" and row[0]["last_value"] == 2.0
    assert len(row) == 64


def test_sliding_rollup_stream_matches_batch(spark, sf_dir, chunk_dir):
    from fawac_cdc_spark.streaming.batch_equiv import sliding_1h_15min_rollup

    events = cdc.read_event_stream(spark, chunk_dir)
    got = _run_to_memory(
        spark, cdc.sliding_rollup_stream(events), "sliding_out", "complete"
    ).toPandas()
    want = (
        sliding_1h_15min_rollup(spark, sf_dir)
        .withColumn("win_start", F.col("win_start").cast("timestamp_ntz"))
        .toPandas()
    )
    got["win_start"] = pd.to_datetime(got["win_start"])
    assert not compare_frames(got, want)


def test_capped_totals_stream_matches_batch(spark, sf_dir, chunk_dir):
    """The applyInPandasWithState accumulator converges to the batch
    sticky-stop semantics: take each user's final (max-n) emitted row."""
    from fawac_cdc_spark.streaming.batch_equiv import capped_user_totals

    events = cdc.read_event_stream(spark, chunk_dir)
    emitted = _run_to_memory(
        spark, cdc.capped_totals_stream(events), "capped_out", "update"
    ).toPandas()
    got = (
        emitted.sort_values("n_events")
        .drop_duplicates("user_id", keep="last")
        .reset_index(drop=True)
    )
    want = capped_user_totals(spark, sf_dir).toPandas()
    assert not compare_frames(got, want)


def test_capped_totals_stream_sorts_across_arrow_chunks(spark, sf_dir, tmp_path):
    """A user's micro-batch rows reach the state function as several
    Arrow chunks once they outnumber ``arrow.maxRecordsPerBatch``; the
    fold must still run in (ts, event_id) order over ALL of them.  Rows
    are shuffled within each ts-ordered chunk file and the chunk size is
    cut to 3, so a per-chunk sort folds most users out of order."""
    import random

    from fawac_cdc_spark.streaming.batch_equiv import capped_user_totals

    tbl = load_table(spark, sf_dir, "events")
    e = tbl.orderBy("ts", "event_id").collect()
    per = (len(e) + N_CHUNKS - 1) // N_CHUNKS
    rng = random.Random(7)
    chunks = []
    for i in range(N_CHUNKS):
        chunk = list(e[i * per : (i + 1) * per])
        rng.shuffle(chunk)
        chunks.append(chunk)
    feed = _write_chunk_feed(spark, tmp_path, "capped_shuf", chunks, tbl.schema)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(conf, "3")
    try:
        emitted = _run_to_memory(
            spark,
            cdc.capped_totals_stream(cdc.read_event_stream(spark, feed)),
            "capped_arrow_chunks_out",
            "update",
        ).toPandas()
    finally:
        spark.conf.unset(conf)
    got = (
        emitted.sort_values("n_events")
        .drop_duplicates("user_id", keep="last")
        .reset_index(drop=True)
    )
    want = capped_user_totals(spark, sf_dir).toPandas()
    assert not compare_frames(got, want)


def test_cdc_upsert_refuses_fresh_checkpoint_over_existing_state(
    spark, chunk_dir, tmp_path
):
    """A fresh checkpoint restarts epoch ids at 0 and the upsert skips
    every epoch whose manifest exists (the replay rule), so a new
    checkpoint over a state dir that already holds commits would drop
    the feed's first batches silently.  It is refused, naming both dirs,
    before the stream starts."""
    import os

    state_dir = str(tmp_path / "state")
    cdc.cdc_upsert_run(spark, chunk_dir, state_dir, str(tmp_path / "ckpt"))
    versions = cdc.state_versions(state_dir)
    fresh = str(tmp_path / "fresh_ckpt")
    with pytest.raises(ValueError) as err:
        cdc.cdc_upsert_run(spark, chunk_dir, state_dir, fresh)
    assert fresh in str(err.value) and state_dir in str(err.value)
    assert not os.path.exists(fresh)
    assert cdc.state_versions(state_dir) == versions


def test_cdc_upsert_resumes_from_checkpoint(spark, sf_dir, chunk_dir, tmp_path):
    """A33 restore semantics: stop after the first half of the feed, then
    restart against the full feed with the same checkpoint — the second
    run must process only unseen files (epoch ids continue, snapshots
    accumulate) and converge to the same final state."""
    import glob

    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    files = sorted(glob.glob(f"{chunk_dir}/*.parquet"))
    assert len(files) >= 2

    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    # phase 1: only half the feed has arrived
    _arrive(feed_dir, files[: len(files) // 2])
    cdc.cdc_upsert_run(spark, str(feed_dir), state_dir, ckpt)
    versions_after_half = cdc.state_versions(state_dir)

    # phase 2: the rest arrives; restart with the SAME checkpoint — only
    # the unseen files replay
    _arrive(feed_dir, files[len(files) // 2 :])
    final = cdc.cdc_upsert_run(spark, str(feed_dir), state_dir, ckpt).toPandas()
    versions_after_full = cdc.state_versions(state_dir)
    assert len(versions_after_full) > len(versions_after_half)
    assert versions_after_full[: len(versions_after_half)] == versions_after_half

    want = cdc_latest_state_per_user(spark, sf_dir).toPandas()
    assert not compare_frames(final, want)


def test_cdc_upsert_replays_committed_epoch_as_noop(spark, chunk_dir, tmp_path):
    """Micro-batch replay: the sink committed epoch N's manifest but
    Spark's commit log lost batch N (a crash between the two), so the
    restart re-delivers batch N.  The replay must leave the final state,
    the newest manifest and every data file exactly as the un-replayed
    run left them: committed data files are immutable (older manifests
    and open time-travel reads reference them)."""
    import glob
    import os

    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    first = cdc.cdc_upsert_run(spark, chunk_dir, state_dir, ckpt).toPandas()
    versions = cdc.state_versions(state_dir)

    def newest_manifest():
        return cdc._read_manifest(state_dir, versions[-1])

    def data_files():
        pattern = os.path.join(state_dir, "data", "**", "*.parquet")
        return {p: os.stat(p).st_mtime_ns for p in glob.glob(pattern, recursive=True)}

    manifest, files = newest_manifest(), data_files()
    commits = sorted(
        glob.glob(os.path.join(ckpt, "commits", "[0-9]*")),
        key=lambda p: int(os.path.basename(p)),
    )
    last = os.path.basename(commits[-1])
    assert int(last) == versions[-1]
    for name in (last, f".{last}.crc"):
        p = os.path.join(ckpt, "commits", name)
        if os.path.exists(p):
            os.remove(p)

    replayed = cdc.cdc_upsert_run(spark, chunk_dir, state_dir, ckpt).toPandas()
    assert os.path.exists(os.path.join(ckpt, "commits", last)), "batch not replayed"
    assert cdc.state_versions(state_dir) == versions
    assert newest_manifest() == manifest
    assert data_files() == files
    assert not compare_frames(replayed, first)


def test_cdc_upsert_crash_between_write_and_commit(
    spark, sf_dir, chunk_dir, tmp_path, monkeypatch
):
    """A crash after epoch N's data write and before its manifest commit
    leaves ``data/eN`` that no manifest lists.  A vacuum that expires no
    version reclaims that orphan and nothing a committed version reads;
    a restart with the same checkpoint replays epoch N, rewrites its data
    and commits it, and the state converges to the batch answer."""
    import os

    from pyspark.errors import StreamingQueryException

    crash_epoch = 2
    commit = cdc._commit_manifest

    def crashing_commit(state_dir, epoch_id, buckets, n_buckets):
        if epoch_id == crash_epoch:
            raise RuntimeError(f"crash before committing epoch {epoch_id}")
        commit(state_dir, epoch_id, buckets, n_buckets)

    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    monkeypatch.setattr(cdc, "_commit_manifest", crashing_commit)
    with pytest.raises(StreamingQueryException, match="crash before committing"):
        cdc.cdc_upsert_run(spark, chunk_dir, state_dir, ckpt)
    orphan = os.path.join(state_dir, "data", f"e{crash_epoch}")
    assert os.path.isdir(orphan)
    assert not os.path.exists(os.path.join(state_dir, f"v{crash_epoch}.json"))

    versions = cdc.state_versions(state_dir)
    assert versions == list(range(crash_epoch))
    rows = {
        v: cdc.read_upsert_state(spark, state_dir, version=v).count()
        for v in versions
    }
    stats = cdc.vacuum_state(state_dir, retain_last=len(versions))
    assert stats["n_versions_expired"] == 0 and stats["n_files_removed"] > 0
    assert not os.path.exists(orphan)
    for v in versions:
        for rel in cdc._read_manifest(state_dir, v).values():
            assert os.path.isdir(os.path.join(state_dir, rel)), (v, rel)
        assert cdc.read_upsert_state(spark, state_dir, version=v).count() == rows[v]

    monkeypatch.setattr(cdc, "_commit_manifest", commit)
    final = cdc.cdc_upsert_run(spark, chunk_dir, state_dir, ckpt).toPandas()
    assert crash_epoch in cdc.state_versions(state_dir)
    want = cdc_latest_state_per_user(spark, sf_dir).toPandas()
    assert not compare_frames(final, want)


def test_cdc_upsert_empty_batch_commits_previous_manifest(spark, chunk_dir, tmp_path):
    """A micro-batch with no rows writes no bucket directory, so its
    epoch commits the previous manifest unchanged."""
    import glob
    import os
    import shutil
    import time

    feed = tmp_path / "feed"
    feed.mkdir()
    empty = tmp_path / "empty"
    spark.createDataFrame([], cdc.EVENT_STREAM_SCHEMA).coalesce(1).write.parquet(
        str(empty)
    )
    (part,) = glob.glob(f"{empty}/part-*.parquet")
    first = sorted(glob.glob(f"{chunk_dir}/*.parquet"))[0]
    base = time.time() - 3600
    for i, (src, name) in enumerate([(first, "c1.parquet"), (part, "c2.parquet")]):
        shutil.copy(src, feed / name)
        os.utime(feed / name, (base + 10 * i, base + 10 * i))

    state_dir = str(tmp_path / "state")
    cdc.cdc_upsert_run(spark, str(feed), state_dir, str(tmp_path / "ckpt"))
    assert cdc.state_versions(state_dir) == [0, 1]
    assert cdc._read_manifest(state_dir, 1) == cdc._read_manifest(state_dir, 0)

def _arrive(feed, files):
    """Copy chunk files into a feed dir, keeping their mtimes (and so the
    file stream's micro-batch order)."""
    import os
    import shutil

    for f in files:
        dest = feed / os.path.basename(f)
        shutil.copy(f, dest)
        st = os.stat(f)
        os.utime(dest, (st.st_mtime, st.st_mtime))


def test_cdc_upsert_writes_one_file_per_bucket(spark, chunk_dir, tmp_path):
    """The epoch write shuffles by user_id into the store's bucket count
    and Spark's hash partition id is the bucket, so every ``bucket=K``
    directory of every epoch holds exactly one file.  AQE's coalescing is
    off and the session's shuffle partition count (5) divides no bucket
    count, so a write whose tasks each held rows of many buckets would
    leave several files per directory."""
    import glob
    import os

    confs = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "5",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        state_dir = str(tmp_path / "state")
        cdc.cdc_upsert_run(spark, chunk_dir, state_dir, str(tmp_path / "ckpt"))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    dirs = glob.glob(os.path.join(state_dir, "data", "e*", "bucket=*"))
    assert len(cdc.state_versions(state_dir)) == N_CHUNKS and dirs
    files = {d: glob.glob(os.path.join(d, "*.parquet")) for d in dirs}
    assert {d: len(fs) for d, fs in files.items() if len(fs) != 1} == {}


def test_cdc_store_keeps_the_bucket_count_it_was_created_with(
    spark, sf_dir, chunk_dir, tmp_path, monkeypatch
):
    """The manifest owns the bucket count: the first epoch takes it from
    the session's task slots, and later epochs keep it although the
    session now has more slots."""
    import glob

    from pyspark import SparkContext

    feed = tmp_path / "feed"
    feed.mkdir()
    files = sorted(glob.glob(f"{chunk_dir}/*.parquet"))
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    _arrive(feed, files[:1])
    monkeypatch.setattr(SparkContext, "defaultParallelism", 3)
    cdc.cdc_upsert_run(spark, str(feed), state_dir, ckpt)
    monkeypatch.undo()
    assert spark.sparkContext.defaultParallelism != 3

    _arrive(feed, files[1:])
    final = cdc.cdc_upsert_run(spark, str(feed), state_dir, ckpt).toPandas()
    versions = cdc.state_versions(state_dir)
    assert len(versions) == len(files)
    for v in versions:
        manifest = cdc._manifest(state_dir, v)
        assert manifest["n_buckets"] == 3, (v, manifest)
        assert set(manifest["buckets"]) <= {"0", "1", "2"}, (v, manifest)
    want = cdc_latest_state_per_user(spark, sf_dir).toPandas()
    assert not compare_frames(final, want)


def test_cdc_upsert_labels_each_epochs_jobs(spark, chunk_dir, tmp_path):
    """Each epoch's jobs carry its number: the touched-bucket jobs run as
    ``cdc eN touched`` and the write as ``cdc eN write``.  Epoch 0 meets
    an empty store, so it fires no touched-bucket job."""
    import glob

    jsc = spark.sparkContext._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty()
        listed = jsc.statusStore().jobsList(None)
        return [listed.apply(i) for i in range(listed.size())]

    first_new = max((j.jobId() for j in jobs()), default=-1) + 1
    feed = tmp_path / "feed"
    feed.mkdir()
    _arrive(feed, sorted(glob.glob(f"{chunk_dir}/*.parquet"))[:2])
    cdc.cdc_upsert_run(spark, str(feed), str(tmp_path / "state"), str(tmp_path / "ckpt"))

    descs = [
        j.description().get()
        for j in jobs()
        if j.jobId() >= first_new and j.description().isDefined()
    ]
    labels = {d for d in descs if d.startswith("cdc ")}
    assert labels == {"cdc e0 write", "cdc e1 touched", "cdc e1 write"}, descs


def test_time_travel_read_of_empty_store_fails_loudly(spark, tmp_path):
    """A store with no commit reads as no state, but time travel to a
    version it never committed raises, as on a store that has commits."""
    empty = str(tmp_path / "never_written")
    assert cdc.read_upsert_state(spark, empty) is None
    with pytest.raises(ValueError, match=r"no committed version 3; have \[\]"):
        cdc.read_upsert_state(spark, empty, version=3)


def test_vacuum_during_time_travel_read_fails_loudly(spark, sf_dir, tmp_path):
    """A time-travel read built before a vacuum expires its version must
    fail when its action runs, not return the rows that survived."""
    from py4j.protocol import Py4JJavaError

    e = load_table(spark, sf_dir, "events")
    state_dir = str(tmp_path / "state")
    cdc.write_state_snapshot(e.where(F.col("user_id") % 2 == 0), state_dir, 0)
    cdc.write_state_snapshot(e.where(F.col("user_id") % 2 == 1), state_dir, 1)
    old = cdc.read_upsert_state(spark, state_dir, version=0)
    cdc.vacuum_state(state_dir, retain_last=1)
    with pytest.raises(Py4JJavaError, match="FAILED_READ_FILE.FILE_NOT_EXIST"):
        old.collect()


def test_rate_source_produces_event_shaped_rows(spark):
    """The rate source emits rows matching the events schema contract
    (minus nanos), so every streaming pipeline here can soak-test
    against it without a file feed."""
    stream = cdc.rate_source_stream(spark, rows_per_second=1000)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_out")
        .outputMode("append")
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.sql("SELECT COUNT(*) n FROM rate_out").collect()[0]["n"] > 0:
                break
            time.sleep(0.5)
        out = spark.sql("SELECT * FROM rate_out")
        assert out.columns == ["event_id", "ts", "user_id", "event_type", "value", "props"]
        assert out.count() > 0
        types = {r["event_type"] for r in out.select("event_type").distinct().collect()}
        assert types <= {"click", "view", "purchase"}
    finally:
        q.stop()


def test_stream_stream_join_matches_batch(spark, sf_dir, chunk_dir):
    """Watermarked stream-stream interval self-join == batch range join."""
    from fawac_cdc_spark.streaming.batch_equiv import click_purchase_pairs

    events = cdc.read_event_stream(spark, chunk_dir)
    got = _run_to_memory(
        spark, cdc.click_purchase_join_stream(events), "ssj_out", "append"
    ).toPandas()
    want = click_purchase_pairs(spark, sf_dir).toPandas()
    assert not compare_frames(got, want)


def test_stream_stream_left_outer_join_matches_batch(spark, sf_dir, chunk_dir):
    """LEFT OUTER stream-stream join == batch left join within the
    closable region: unmatched purchases whose 10-minute interval the
    final watermark (max event time - 1 hour) has not passed are withheld
    by the state store, so both sides are filtered to purchases the
    stream could provably close."""
    from fawac_cdc_spark.streaming.batch_equiv import purchase_click_left_pairs

    events = cdc.read_event_stream(spark, chunk_dir)
    got = _run_to_memory(
        spark, cdc.click_purchase_left_join_stream(events), "ssloj_out", "append"
    ).toPandas()
    batch = purchase_click_left_pairs(spark, sf_dir)
    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
    # well clear of the eviction boundary (watermark delay 1h + 10-min
    # interval + state-watermark rounding): exact-boundary rows are
    # implementation-defined, the interior is not
    cutoff = max_ts - pd.Timedelta(hours=2)
    want = batch.toPandas()
    want = want[want["purchase_ts"] < cutoff].reset_index(drop=True)
    got["p_ts"] = pd.to_datetime(got["p_ts"])
    got = (
        got[got["p_ts"] < cutoff]
        .rename(columns={"p_ts": "purchase_ts"})
        .reset_index(drop=True)
    )
    # null-click rows must actually appear (un-attributed purchases exist)
    assert got["click_id"].isna().any()
    assert not compare_frames(got, want)


def test_ewma_gs_stream_matches_sequential(spark, chunk_dir, tmp_path):
    """The applyInPandasWithState EWMA must equal the sequential
    recurrence over micro-batch means, exercising the horizontally
    scalable A17 path end-to-end."""
    import glob

    tau = 0.1
    events = cdc.read_event_stream(spark, chunk_dir)
    q = (
        cdc.ewma_target_stream_gs(events, tau=tau)
        .writeStream.format("memory")
        .queryName("ewma_gs_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ewma_gs_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM ewma_gs_out").toPandas()
    assert out["n_batches"].max() > 1, "feed must span multiple micro-batches"
    got = {
        r["event_type"]: r["target"]
        for _, r in out.sort_values("n_batches").iterrows()
    }

    expected: dict[str, float] = {}
    for f in sorted(glob.glob(f"{chunk_dir}/*.parquet")):
        pdf = pd.read_parquet(f)
        means = pdf.groupby("event_type")["value"].apply(
            lambda s: float(round(s.astype("float64").sum(), 2)) / len(s)
        )
        for k, m in means.items():
            expected[k] = m if k not in expected else (1 - tau) * expected[k] + tau * m

    assert set(got) == set(expected)
    for k in expected:
        assert got[k] == pytest.approx(expected[k], abs=1e-9), k


def test_ewma_gs_stream_matches_batch_equiv(spark, sf_dir, tmp_path):
    """The applyInPandasWithState EWMA stream, fed deterministic
    event_id-div-N micro-batches, equals the registered (driver-oracled)
    closed-form batch fold ``ewma_state_batch_equiv`` — pinning the
    streaming implementation to the DuckDB oracle transitively."""
    from fawac_cdc_spark.streaming.batch_equiv import _ewma_batch_fold

    batch = 100
    e = load_table(spark, sf_dir, "events")
    by_batch: dict[int, list] = {}
    for r in e.collect():
        by_batch.setdefault(r["event_id"] // batch, []).append(r)
    feed = _write_chunk_feed(
        spark, tmp_path, "ewma_feed", [by_batch[b] for b in sorted(by_batch)], e.schema
    )

    events = cdc.read_event_stream(spark, feed)
    q = (
        cdc.ewma_target_stream_gs(events, tau=0.1)
        .writeStream.format("memory")
        .queryName("ewma_gs_be_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ewma_gs_be_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM ewma_gs_be_out").toPandas()
    got = (
        out.sort_values("n_batches")
        .drop_duplicates("event_type", keep="last")
        .reset_index(drop=True)
    )
    want = {
        r["event_type"]: (r["target"], r["n_batches"])
        for r in _ewma_batch_fold(e, batch=batch).collect()
    }
    assert set(got["event_type"]) == set(want)
    for _, r in got.iterrows():
        wt, wn = want[r["event_type"]]
        assert r["n_batches"] == wn, r["event_type"]
        assert round(r["target"], 6) == pytest.approx(wt, abs=1e-6), r["event_type"]


def test_stream_static_enrich_matches_batch(spark, sf_dir, chunk_dir):
    from fawac_cdc_spark.streaming.batch_equiv import stream_static_enrich

    events = cdc.read_event_stream(spark, chunk_dir)
    dim = load_table(spark, sf_dir, "customer")
    got = _run_to_memory(
        spark, cdc.enrich_stream(events, dim), "enrich_out", "complete"
    ).toPandas()
    want = stream_static_enrich(spark, sf_dir).toPandas()
    assert not compare_frames(got, want)


def test_snapshot_time_travel(spark, chunk_dir, tmp_path):
    """Every committed manifest stays readable: version k must replay the
    exact latest-per-key state after the first k+1 micro-batches."""
    import glob

    cdc.cdc_upsert_run(
        spark, chunk_dir, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    versions = cdc.state_versions(str(tmp_path / "state"))
    assert len(versions) == N_CHUNKS

    files = sorted(glob.glob(f"{chunk_dir}/*.parquet"))
    mid = versions[1]
    state = cdc.read_upsert_state(spark, str(tmp_path / "state"), version=mid)
    # state rows are read with the declared events schema, not inferred
    assert state.schema == SCHEMAS["events"]
    got = state.select("user_id", "ts", "event_type", "value", "event_id").toPandas()
    want = (
        pd.concat([pd.read_parquet(f) for f in files[:2]])
        .sort_values(["ts", "event_id"])
        .groupby("user_id", as_index=False)
        .last()[["user_id", "ts", "event_type", "value", "event_id"]]
    )
    assert not compare_frames(got, want)


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg under a watermark: once the watermark has
    passed a window's end, a straggler for that window is DROPPED — the
    bounded-state contract that makes 100 TB streaming aggregation
    feasible. A 2-hour watermark, four micro-batches: on-time hour-0
    data, a fast-forward to hour 6, one more hour-6 batch (the watermark
    commit lags one batch, so this is what locks it at hour 4), then a
    late hour-0 event. The closed hour-0 window must reflect only the
    on-time rows."""
    import datetime as dt
    import os
    import time

    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def mk(event_id, hour_off, minute, value):
        return (
            event_id,
            base + dt.timedelta(hours=hour_off, minutes=minute),
            7,
            "click",
            float(value),
            "{}",
        )

    chunks = [
        [mk(1, 0, 5, 10.0), mk(2, 0, 25, 5.0)],   # on-time hour 0
        [mk(3, 6, 0, 1.0)],                        # event time -> 06:00
        [mk(5, 6, 10, 2.0)],                       # watermark commits at 04:00
        [mk(4, 0, 45, 100.0)],                     # LATE hour-0 straggler
    ]
    src = tmp_path / "late_stream"
    src.mkdir()
    schema = "event_id long, ts timestamp_ntz, user_id long, event_type string, value double, props string"
    t0 = time.time() - 3600
    for i, rows in enumerate(chunks):
        tmp = tmp_path / f"c{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        dest = src / f"{i:04d}.parquet"
        dest.write_bytes(part.read_bytes())
        os.utime(dest, (t0 + 10 * i, t0 + 10 * i))

    events = cdc.read_event_stream(spark, str(src))
    got = _run_to_memory(
        spark, cdc.hourly_rollup_stream(events), "late_drop_out", "append"
    ).toPandas()

    # only the hour-0 window has closed; the late event must be absent
    assert len(got) == 1
    row = got.iloc[0]
    assert pd.to_datetime(row["hour"]) == pd.Timestamp(base)
    assert row["n"] == 2
    assert row["total_value"] == pytest.approx(15.0)


def test_session_close_stream_matches_batch_sessions(spark, chunk_dir, tmp_path):
    """The event-time-timeout sessionizer must emit exactly the sessions the
    batch gap-sessionization computes, for every session the final
    watermark closes (last_event + gap <= max event time), with identical
    aggregates."""
    from fawac_cdc_spark.registry import all_specs
    from tests.conftest import SF0001

    events = cdc.read_event_stream(spark, chunk_dir)
    q = (
        cdc.session_close_stream(events)
        .writeStream.format("memory")
        .queryName("session_close_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT user_id, session_start, session_end, n_events, total_value "
        "FROM session_close_out"
    ).toPandas()

    batch = (
        all_specs()["session_agg_30min_gap"]
        .fn(spark, SF0001)
        .toPandas()
    )
    max_ts = pd.read_parquet(f"{SF0001}/events.parquet")["ts"].max()
    gap = pd.Timedelta(minutes=cdc.SESSION_GAP_MIN)
    want = batch[pd.to_datetime(batch["session_end"]) + gap <= max_ts][
        ["user_id", "session_start", "session_end", "n_events", "total_value"]
    ]

    assert len(got) > 0, "no sessions emitted — timers never fired"
    key = ["user_id", "session_start"]
    got_s = got.sort_values(key).reset_index(drop=True)
    want_s = want.sort_values(key).reset_index(drop=True)
    assert len(got_s) == len(want_s), (len(got_s), len(want_s))
    for col in ("user_id", "n_events"):
        assert got_s[col].tolist() == want_s[col].tolist(), col
    for col in ("session_start", "session_end"):
        assert (
            pd.to_datetime(got_s[col]).tolist()
            == pd.to_datetime(want_s[col]).tolist()
        ), col
    assert got_s["total_value"].tolist() == pytest.approx(
        want_s["total_value"].tolist(), abs=1e-9
    )


def test_stateful_profile_stream_matches_batch(spark, chunk_dir, tmp_path):
    """The composite-state profile operator's NEWEST emission per user
    (top-k values, per-type counts and upd_seq in one state row) must
    equal the one-shot batch profile."""
    from tests.conftest import SF0001

    events = cdc.read_event_stream(spark, chunk_dir)
    q = (
        cdc.stateful_user_profile_stream(events)
        .writeStream.format("memory")
        .queryName("profile_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "prof_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM profile_out").toPandas()
    latest = out.loc[out.groupby("user_id")["upd_seq"].idxmax()]
    got = {
        int(r["user_id"]): (
            [round(v, 2) for v in r["top_purchases"]],
            int(r["n_types"]),
            int(r["n_total"]),
        )
        for _, r in latest.iterrows()
    }

    e = pd.read_parquet(f"{SF0001}/events.parquet")
    want = {}
    for uid, g in e.groupby("user_id"):
        tops = sorted(
            g[g["event_type"] == "purchase"]["value"].tolist(), reverse=True
        )[: cdc.PROFILE_TOP_K]
        want[int(uid)] = (
            [round(v, 2) for v in tops],
            g["event_type"].nunique(),
            len(g),
        )
    assert got == want


def test_npz_stream_sink_writes_all_events_exactly_once(spark, chunk_dir, tmp_path):
    """Streaming the CDC feed into the custom npz stream sink must land
    every event exactly once across the per-batch shard directories, with
    the stream manifest accounting for all rows."""
    import glob
    import json

    import numpy as np

    from fawac_cdc_spark.sources.npz_source import NpzDataSource
    from tests.conftest import SF0001

    spark.dataSource.register(NpzDataSource)
    out = str(tmp_path / "npz_stream_sink")
    events = cdc.read_event_stream(spark, chunk_dir)
    q = (
        events.select("event_id", "user_id", "event_type", "value")
        .writeStream.format("d4rl_npz")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "npz_sink_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    with open(f"{out}/_STREAM_MANIFEST.json") as f:
        manifest = json.load(f)
    got_ids = []
    n_manifest = 0
    for entry in manifest.values():
        n_manifest += entry["n_rows"]
        for shard in entry["shards"]:
            with np.load(f"{out}/{entry['dir']}/{shard}", allow_pickle=False) as d:
                got_ids.extend(d["event_id"].tolist())
    want = pd.read_parquet(f"{SF0001}/events.parquet")
    assert n_manifest == len(want)
    assert sorted(got_ids) == sorted(want["event_id"].tolist())


def test_npz_stream_reader_resumes_from_checkpoint_exactly_once(spark, tmp_path):
    """The npz streaming READER must deliver each batch directory exactly
    once across separate availableNow runs sharing a checkpoint: run 1
    reads the initial batches, new batches land, run 2 reads ONLY those.
    Batches become visible through _STREAM_MANIFEST.json exactly as the
    sink commits them (shards first, manifest replace last)."""
    import json
    import os

    import numpy as np

    from fawac_cdc_spark.sources.npz_source import NpzDataSource
    from tests.conftest import SF0001

    spark.dataSource.register(NpzDataSource)
    src = tmp_path / "npz_feed"
    src.mkdir()
    events = pd.read_parquet(f"{SF0001}/events.parquet")[
        ["event_id", "user_id", "event_type", "value"]
    ]

    def write_batch(i, lo, hi, commit=True):
        d = src / f"batch-{i:05d}"
        d.mkdir()
        part = events.iloc[lo:hi]
        np.savez(
            d / "part-00000.npz",
            event_id=part["event_id"].to_numpy("int64"),
            user_id=part["user_id"].to_numpy("int64"),
            event_type=part["event_type"].to_numpy("U"),
            value=part["value"].to_numpy("float64"),
        )
        if commit:
            commit_batch(i, hi - lo)

    def commit_batch(i, n_rows):
        manifest = src / "_STREAM_MANIFEST.json"
        log = json.loads(manifest.read_text()) if manifest.exists() else {}
        log[str(i)] = {
            "dir": f"batch-{i:05d}",
            "shards": ["part-00000.npz"],
            "n_rows": n_rows,
        }
        tmp = str(manifest) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(log, f)
        os.replace(tmp, str(manifest))

    out = str(tmp_path / "npz_read_out")
    ckpt = str(tmp_path / "npz_read_ckpt")

    def run_once():
        q = (
            spark.readStream.format("d4rl_npz")
            .schema(
                "event_id bigint, user_id bigint, event_type string, value double"
            )
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    n = len(events)
    write_batch(0, 0, 400)
    write_batch(1, 400, 700)
    run_once()
    got1 = pd.read_parquet(out)
    assert sorted(got1["event_id"]) == sorted(events["event_id"][:700])

    # a HALF-COMMITTED batch (shards on disk, no manifest entry yet) must
    # be invisible: a directory-listing offset would admit it here and
    # then permanently skip it (ADVICE r5 medium)
    write_batch(2, 700, n, commit=False)
    run_once()
    got_mid = pd.read_parquet(out)
    assert sorted(got_mid["event_id"]) == sorted(events["event_id"][:700])

    commit_batch(2, n - 700)
    run_once()
    got2 = pd.read_parquet(out)
    # every event exactly once: nothing re-read, nothing skipped
    assert sorted(got2["event_id"]) == sorted(events["event_id"])


def test_watermark_drops_late_events_in_append_rollup(spark, tmp_path):
    """Late-data contract: once the watermark has FINALIZED a window (its
    state emitted and evicted at the end of an earlier batch), a late
    event for that window is guaranteed dropped — the finalized row is
    never re-emitted or amended in append mode. (Within the same batch
    where the watermark crosses, Spark's drop is best-effort only, so the
    late arrival here lands in a later batch.) Pins the semantics the
    100 TB CDC pipeline relies on to bound state."""
    import os
    import time

    feed = tmp_path / "late_feed"
    feed.mkdir()
    scratch = tmp_path / "late_scratch"
    schema = cdc.EVENT_STREAM_SCHEMA

    def ts(h, m=0):
        import datetime

        return datetime.datetime(2024, 1, 1, h, m)

    def write_chunk(name, rows, mtime):
        d = scratch / name
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(str(d))
        (part,) = sorted(d.rglob("part-*.parquet"))
        dest = feed / name
        dest.write_bytes(part.read_bytes())
        os.utime(dest, (mtime, mtime))

    base = time.time() - 3600
    # batch 1: three events in hour 0, one in hour 5 — at the end of this
    # batch the watermark reaches 04:50, so hour 0 finalizes (emit+evict)
    write_chunk(
        "c1.parquet",
        [
            (1, ts(0, 10), 1, "click", 1.0, None),
            (2, ts(0, 20), 2, "click", 1.0, None),
            (3, ts(0, 40), 3, "click", 1.0, None),
            (4, ts(5, 0), 4, "click", 1.0, None),
        ],
        base,
    )
    # batch 2: on-time hour-5 event
    write_chunk(
        "c2.parquet",
        [(6, ts(5, 30), 6, "click", 1.0, None)],
        base + 10,
    )
    # batch 3: a LATE event for the long-finalized hour 0 — guaranteed
    # dropped (its state is gone) — plus an event that advances the
    # watermark past hour 5 so that window finalizes too
    write_chunk(
        "c3.parquet",
        [
            (5, ts(0, 50), 5, "click", 1.0, None),  # late -> dropped
            (7, ts(9, 0), 7, "click", 1.0, None),
        ],
        base + 20,
    )

    events = cdc.read_event_stream(spark, str(feed))
    stream = cdc.hourly_rollup_stream(events, watermark="10 minutes")
    q = (
        stream.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM late_out").toPandas()
    # exactly one finalized row per window — the late event neither
    # re-emitted hour 0 nor amended it
    hours = [pd.Timestamp(h).hour for h in out["hour"]]
    assert sorted(hours) == [0, 5]
    got = {
        (pd.Timestamp(r["hour"]).hour, r["event_type"]): r["n"]
        for _, r in out.iterrows()
    }
    assert got[(0, "click")] == 3
    assert got[(5, "click")] == 2




def _write_chunk_feed(spark, tmp_dir, name, chunks, schema):
    """Write each chunk of rows as ONE parquet file into a feed dir with
    ascending mtimes, so a maxFilesPerTrigger=1 file stream replays them
    as one micro-batch each, in order.  Shared by every streaming-feed
    fixture/test (the four hand-rolled copies drifted before)."""
    import os
    import time

    feed = tmp_dir / name
    feed.mkdir()
    base = time.time() - 3600
    n = 0
    for i, rows in enumerate(chunks):
        if not rows:
            continue
        cdir = tmp_dir / f"_{name}_chunk_{i}"
        spark.createDataFrame(rows, schema=schema).coalesce(1).write.parquet(
            str(cdir)
        )
        (part,) = [f for f in cdir.iterdir() if f.name.endswith(".parquet")]
        dest = feed / f"{n:04d}.parquet"
        dest.write_bytes(part.read_bytes())
        os.utime(dest, (base + 10 * n, base + 10 * n))
        n += 1
    return str(feed)


@pytest.fixture(scope="module")
def doc_chunk_dir(spark, sf_dir, tmp_path_factory):
    """Split documents into id-ordered parquet chunks — each chunk one
    micro-batch, so stream arrival order == doc_id order, the feed
    contract of the first-arrival quality gate."""
    tbl = load_table(spark, sf_dir, "documents")
    d = tbl.orderBy("doc_id").collect()
    per = (len(d) + N_CHUNKS - 1) // N_CHUNKS
    chunks = [d[i * per : (i + 1) * per] for i in range(N_CHUNKS)]
    return _write_chunk_feed(
        spark, tmp_path_factory.mktemp("doc_stream"), "feed", chunks, tbl.schema
    )


def test_quality_lsh_dedup_stream_matches_batch(spark, sf_dir, doc_chunk_dir):
    """Quality-aware streaming dedup admission == batch closed form
    (quality_dedup_admissions): per-doc admission is the AND over the
    doc's band-key verdicts, and under id-ordered arrival each verdict
    is final (each (doc, band) emitted exactly once)."""
    from fawac_cdc_spark.streaming.batch_equiv import quality_dedup_admissions

    docs = cdc.read_document_stream(spark, doc_chunk_dir)
    emitted = _run_to_memory(
        spark, cdc.quality_lsh_dedup_stream(docs), "qlsh_admit_out", "update"
    ).toPandas()
    assert not emitted.duplicated(["doc_id", "band"]).any()
    got = emitted.groupby("doc_id")["key_ok"].all()
    want = {
        r.doc_id: r.admitted
        for r in quality_dedup_admissions(spark, sf_dir).collect()
    }
    assert dict(got) == want


def test_quality_lsh_dedup_stream_replaces_on_higher_quality(spark, tmp_path):
    """The best-wins upgrade in isolation: a later-arriving near-dup with
    HIGHER quality (more distinct tokens) takes over the band keys
    (key_ok=True), while a later near-dup with LOWER quality is
    rejected — exactly where the smallest-id-wins LSH gate and this
    operator diverge."""
    # 10 tokens with 5 distinct -> uniq_ratio 0.5; the higher-quality twin
    # rewrites ONE repeated token, leaving 9 of 10 shingles shared (the
    # minhash bands still collide) but lifting uniq_ratio to 0.6.
    low = "alpha beta gamma delta epsilon alpha beta gamma delta epsilon"
    high = "alpha beta gamma delta epsilon alpha beta gamma delta zeta"
    worse = "alpha beta gamma delta epsilon alpha beta gamma delta delta"
    rows_by_chunk = [
        [(1, low, "en", "web", len(low))],
        [(2, high, "en", "web", len(high))],  # higher q, shares bands
        [(3, worse, "en", "web", len(worse))],  # lower q, shares bands
    ]
    feed = _write_chunk_feed(
        spark, tmp_path, "q_docs", rows_by_chunk, cdc.DOC_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.quality_lsh_dedup_stream(cdc.read_document_stream(spark, feed)),
        "qlsh_replace_out",
        "update",
    ).toPandas()
    per_doc_ok = emitted.groupby("doc_id")["key_ok"].all()
    shared_bands = set(emitted[emitted.doc_id == 1]["key"]) & set(
        emitted[emitted.doc_id == 2]["key"]
    )
    assert shared_bands, "fixture texts must collide on at least one band"
    assert per_doc_ok[1]  # first arrival seeds every key
    assert per_doc_ok[2]  # higher quality REPLACES on every shared key
    assert not per_doc_ok[3]  # lower quality loses its shared keys


def _ts(base, seconds):
    import datetime

    return base + datetime.timedelta(seconds=seconds)


_WM_BASE = __import__("datetime").datetime(2024, 1, 1, 0, 0, 0)


def test_lsh_dedup_watermarked_fixes_out_of_order_double_admit(spark, tmp_path):
    """The larger-id near-dup arrives FIRST, but both are held until
    the watermark matures them, then admitted in (ingest_ts, doc_id)
    order — so the smaller id wins and the larger is rejected, matching
    the batch closed form without any arrival-order precondition (a
    first-arrival gate would admit both)."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    flush = "flushtok one two three four five six"
    rows_by_chunk = [
        [(10, text, "en", "web", len(text), _ts(_WM_BASE, 10))],  # larger id first
        [(5, text, "en", "web", len(text), _ts(_WM_BASE, 5))],  # smaller later
        # two far-future flush chunks: the first advances the watermark
        # past the real rows, the second triggers the event-time timeout
        # that releases them (flush docs themselves stay buffered)
        [(999, flush, "en", "web", len(flush), _ts(_WM_BASE, 7200))],
        [(998, flush, "en", "web", len(flush), _ts(_WM_BASE, 7201))],
    ]
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_ooo", rows_by_chunk, cdc.DOC_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.lsh_dedup_stream_watermarked(
            cdc.read_document_stream_ts(spark, feed), delay="10 minutes"
        ),
        "wm_ooo_out",
        "update",
    ).toPandas()
    real = emitted[emitted.doc_id.isin([5, 10])]
    assert set(real["doc_id"]) == {5, 10}
    assert not real.duplicated(["doc_id", "band"]).any()
    per_doc_ok = real.groupby("doc_id")["key_ok"].all()
    assert per_doc_ok[5]  # smaller id admitted despite arriving second
    assert not per_doc_ok[10]  # larger id rejected — matches batch form
    # the flush docs were still inside the watermark horizon at shutdown
    assert 999 not in set(emitted["doc_id"])


def test_lsh_dedup_watermarked_matches_batch_under_shuffled_arrival(
    spark, sf_dir, tmp_path
):
    """stream==batch WITHOUT the id-ordered-arrival precondition
    (VERDICT r11 #6): the corpus arrives round-robin-shuffled across four
    micro-batches, event times assigned in id order; with a delay
    covering the full disorder every real doc matures on the flush
    batches and per-doc admission equals lsh_dedup_admissions."""
    from fawac_cdc_spark.streaming.batch_equiv import lsh_dedup_admissions

    tbl = load_table(spark, sf_dir, "documents")
    d = [
        r + (_ts(_WM_BASE, i),)
        for i, r in enumerate(
            tbl.select("doc_id", "text", "lang", "source", "n_chars")
            .orderBy("doc_id")
            .collect()
        )
    ]
    # round-robin: every chunk mixes small and large ids -> maximally
    # disordered arrival relative to event time
    chunks = [d[i::4] for i in range(4)]
    flush = "flushtok one two three four five six"
    span = len(d) + 10
    chunks.append([(999_999, flush, "en", "web", len(flush), _ts(_WM_BASE, span + 7200))])
    chunks.append([(999_998, flush, "en", "web", len(flush), _ts(_WM_BASE, span + 7201))])
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_feed", chunks, cdc.DOC_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.lsh_dedup_stream_watermarked(
            cdc.read_document_stream_ts(spark, feed), delay="1 hour"
        ),
        "wm_batch_out",
        "update",
    ).toPandas()
    real = emitted[emitted.doc_id < 999_000]
    assert not real.duplicated(["doc_id", "band"]).any()
    got = real.groupby("doc_id")["key_ok"].all()
    want = {
        r.doc_id: r.admitted for r in lsh_dedup_admissions(spark, sf_dir).collect()
    }
    assert dict(got) == want


def test_lsh_dedup_watermarked_drops_beyond_delay(spark, tmp_path):
    """The contract boundary: a row whose disorder exceeds the watermark
    delay is dropped upstream and never emitted — admission completeness
    is traded for the relaxed ordering, by exactly the delay."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    flush = "flushtok one two three four five six"
    rows_by_chunk = [
        [(10, text, "en", "web", len(text), _ts(_WM_BASE, 1000))],
        # arrives AFTER the watermark (1000 - 10s) passed its event time
        [(5, text, "en", "web", len(text), _ts(_WM_BASE, 5))],
        [(999, flush, "en", "web", len(flush), _ts(_WM_BASE, 7200))],
        [(998, flush, "en", "web", len(flush), _ts(_WM_BASE, 7201))],
    ]
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_late", rows_by_chunk, cdc.DOC_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.lsh_dedup_stream_watermarked(
            cdc.read_document_stream_ts(spark, feed), delay="10 seconds"
        ),
        "wm_late_out",
        "update",
    ).toPandas()
    assert 5 not in set(emitted["doc_id"])  # late row dropped, not admitted
    per_doc_ok = emitted[emitted.doc_id == 10].groupby("doc_id")["key_ok"].all()
    assert per_doc_ok[10]


def test_semantic_dedup_stream_resumes_from_checkpoint(spark, sf_dir, tmp_path):
    """A33 restore semantics for the watermarked semantic gate.  Run 1
    sees the first half of the corpus (shuffled) plus two flush rows
    that mature it; run 2 restarts on the SAME checkpoint with the
    second half plus two later flush rows.  Run 2 must judge its vectors
    against the RESTORED seen set (ids/flat/nrms) and release run 1's
    flush rows from the RESTORED pending buffer, and the union of both
    runs' real verdicts must equal the batch closed form."""
    import os
    import shutil

    from fawac_cdc_spark.functions.similarity import EMB_DIM, N_CENTROIDS
    from fawac_cdc_spark.streaming.batch_equiv import semantic_dedup_admissions

    tbl = load_table(spark, sf_dir, "embeddings")
    cents = [
        (r.vec_id, list(r.embedding))
        for r in tbl.where(F.col("vec_id") < N_CENTROIDS).orderBy("vec_id").collect()
    ]
    rows = tbl.orderBy("vec_id").collect()
    half = len(rows) // 2
    # event times follow vec_id, the second half 10 s after the first.
    # With the 1 hour delay, run 1's flush rows (t1) leave the watermark
    # at half + 1 s: past every first-half row, short of every
    # second-half row, and t1 itself lies after the whole corpus.
    d = [
        r + (_ts(_WM_BASE, i + (10 if i >= half else 0)),)
        for i, r in enumerate(rows)
    ]
    t1 = half + 3600
    t2 = t1 + 2 * 3600
    fvec = [1.0] + [0.0] * (EMB_DIM - 1)
    first_half, second_half = d[:half], d[half:]
    chunks = [
        first_half[0::2],
        first_half[1::2],
        [(999_999, fvec, 0, _ts(_WM_BASE, t1))],
        [(999_998, fvec, 0, _ts(_WM_BASE, t1 + 1))],
        second_half[0::2],
        second_half[1::2],
        [(999_997, fvec, 0, _ts(_WM_BASE, t2))],
        [(999_996, fvec, 0, _ts(_WM_BASE, t2 + 1))],
    ]
    staged = _write_chunk_feed(
        spark, tmp_path, "sem_resume_staged", chunks, cdc.EMB_TS_STREAM_SCHEMA
    )
    files = sorted(os.listdir(staged))
    assert len(files) == len(chunks)
    feed_dir = tmp_path / "sem_resume_feed"
    feed_dir.mkdir()

    def arrive(names):
        for name in names:
            src = os.path.join(staged, name)
            shutil.copy(src, feed_dir / name)
            st = os.stat(src)
            os.utime(feed_dir / name, (st.st_mtime, st.st_mtime))

    ckpt = str(tmp_path / "sem_resume_ckpt")

    def run():
        # memory sink cannot recover from a checkpoint; foreachBatch can
        # (same shape as cdc_upsert_run's resume)
        batches: list[pd.DataFrame] = []
        embs = cdc.read_embedding_stream_ts(spark, str(feed_dir))
        q = (
            cdc.semantic_dedup_stream_watermarked(embs, cents, delay="1 hour")
            .writeStream.foreachBatch(
                lambda df, bid: batches.append(df.toPandas())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        non_empty = [b for b in batches if len(b)]
        return (
            pd.concat(non_empty)
            if non_empty
            else pd.DataFrame(
                columns=["vec_id", "cent_id", "n_earlier_dups", "admitted"]
            )
        )

    arrive(files[:4])
    first = run()
    arrive(files[4:])
    second = run()
    ids = [r[0] for r in rows]
    first_ids, second_ids = set(first["vec_id"]), set(second["vec_id"])
    assert first_ids == set(ids[:half])
    # the restored pending buffer releases run 1's flush rows in run 2
    assert second_ids == set(ids[half:]) | {999_999, 999_998}
    got = (
        pd.concat([first, second[second.vec_id < 999_000]])
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    want = (
        semantic_dedup_admissions(spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    for col in ("vec_id", "cent_id", "n_earlier_dups", "admitted"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col


def test_decontam_span_stream_matches_batch(spark, sf_dir, doc_chunk_dir):
    """Streaming decontamination-on-ingest == batch form, with NO
    ordering contract (the operator is stateless: verdicts depend only on
    the fixed eval gram set, never on other corpus docs).  Rebuild the
    training docs from the streamed verdicts and compare hashes and
    counts with decontam_span_removal."""
    from fawac_cdc_spark.functions.decontam import _EVAL_BUCKETS, _GRAM_N
    from fawac_cdc_spark.functions.dedup import positioned_grams, rewrite_excising
    from fawac_cdc_spark.registry import all_specs

    is_eval = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % _EVAL_BUCKETS
        == 0
    )
    docs_static = load_table(spark, sf_dir, "documents")
    t_all = docs_static.select(
        "doc_id", F.split("text", " ").alias("toks"), is_eval.alias("is_eval")
    )
    eval_grams = (
        positioned_grams(t_all.where("is_eval"), _GRAM_N).select("gram").distinct()
    ).localCheckpoint(eager=True)

    # stream TRAIN docs only (production ingests the crawl, not the bench)
    stream = cdc.read_document_stream(spark, doc_chunk_dir).where(~is_eval)
    emitted = _run_to_memory(
        spark,
        cdc.decontam_span_stream(stream, eval_grams),
        "decontam_span_out",
        "append",
    )
    covered = emitted.select(
        "doc_id", F.explode(F.expr(f"sequence(i, i + {_GRAM_N - 1})")).alias("p")
    ).distinct()
    t_train = t_all.where(~F.col("is_eval")).select("doc_id", "toks")
    got = (
        rewrite_excising(t_train, covered)
        .select(
            "doc_id",
            F.md5("kept_text").alias("kept_text_hash"),
            "n_spans_removed",
            "chars_removed",
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    want = (
        all_specs()["decontam_span_removal"]
        .fn(spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert (got["kept_text_hash"] == want["kept_text_hash"]).all()
    assert (got["n_spans_removed"] == want["n_spans_removed"]).all()
    assert (got["chars_removed"] == want["chars_removed"]).all()


def test_holt_stream_matches_batch(spark, sf_dir, chunk_dir):
    """Streaming Holt-on-ingest == the batch mapInPandas scan: same
    recurrence, same rounding, ts-ordered micro-batches. Every event row
    in the 30-event prefix is emitted exactly once with identical
    (level, trend, forecast)."""
    from fawac_cdc_spark.operators.windows import holt_smoothed_values

    events = cdc.read_event_stream(spark, chunk_dir)
    got = _run_to_memory(
        spark, cdc.holt_stream(events), "holt_out", "update"
    ).toPandas()
    assert not got.duplicated(["user_id", "event_id"]).any()
    want = holt_smoothed_values(spark, sf_dir).toPandas()
    g = got.sort_values(["user_id", "rn"]).reset_index(drop=True)
    w = want.sort_values(["user_id", "rn"]).reset_index(drop=True)
    assert len(g) == len(w)
    pd.testing.assert_frame_equal(
        g[["user_id", "event_id", "rn", "level", "trend", "forecast"]],
        w[["user_id", "event_id", "rn", "level", "trend", "forecast"]],
        check_dtype=False,
    )


def test_vacuum_state_expires_versions_and_reclaims_files(spark, sf_dir, tmp_path):
    """VACUUM semantics on the manifest store: old manifests expire,
    unreferenced data files disappear, retained time travel still works,
    expired versions raise, and files shared with a retained manifest
    survive (the Iceberg reachability rule — the incremental MERGE
    carries untouched buckets forward, so retained manifests reference
    older epochs' files)."""
    import os

    from fawac_cdc_spark.catalog import load_table
    from fawac_cdc_spark.streaming.cdc import (
        read_upsert_state,
        state_versions,
        vacuum_state,
        write_state_snapshot,
    )

    state_dir = str(tmp_path / "state")
    e = load_table(spark, sf_dir, "events").limit(200).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    for epoch in range(4):
        write_state_snapshot(e.where(F.col("user_id") % 4 <= epoch), state_dir, epoch)
    assert state_versions(state_dir) == [0, 1, 2, 3]
    rows_v3 = read_upsert_state(spark, state_dir, version=3).count()
    rows_v2 = read_upsert_state(spark, state_dir, version=2).count()

    stats = vacuum_state(state_dir, retain_last=2)
    assert stats["n_versions_expired"] == 2
    assert stats["n_versions_retained"] == 2
    assert stats["n_files_removed"] > 0 and stats["bytes_reclaimed"] > 0
    assert state_versions(state_dir) == [2, 3]
    # retained time travel still exact
    assert read_upsert_state(spark, state_dir, version=3).count() == rows_v3
    assert read_upsert_state(spark, state_dir, version=2).count() == rows_v2
    # expired versions refuse loudly
    with pytest.raises(ValueError, match="no committed version"):
        read_upsert_state(spark, state_dir, version=0)
    # expired epochs' data dirs are gone
    assert not os.path.isdir(os.path.join(state_dir, "data", "e0"))
    assert not os.path.isdir(os.path.join(state_dir, "data", "e1"))
    # idempotent: a second vacuum reclaims nothing
    again = vacuum_state(state_dir, retain_last=2)
    assert again["n_files_removed"] == 0 and again["n_versions_expired"] == 0

    # reachability rule: a retained manifest that CARRIES FORWARD an
    # older epoch's bucket (the incremental-MERGE shape) keeps that
    # bucket alive even though its own epoch is expired
    from fawac_cdc_spark.streaming.cdc import (
        _commit_manifest,
        _manifest,
        _read_manifest,
    )

    v3_buckets = _read_manifest(state_dir, 3)
    carried_bucket, carried_rel = sorted(v3_buckets.items())[0]
    write_state_snapshot(e.where(F.col("user_id") % 2 == 0), state_dir, 4)
    v4_buckets = dict(_read_manifest(state_dir, 4))
    v4_buckets[carried_bucket] = carried_rel  # carry v3's bucket forward
    _commit_manifest(state_dir, 5, v4_buckets, _manifest(state_dir, 4)["n_buckets"])
    stats2 = vacuum_state(state_dir, retain_last=1)  # keep only v5
    assert state_versions(state_dir) == [5]
    assert os.path.isdir(os.path.join(state_dir, carried_rel))  # survived
    # the rest of e3 (buckets v5 does not reference) is gone
    gone = [rel for b, rel in v3_buckets.items() if b != carried_bucket]
    assert gone and all(not os.path.isdir(os.path.join(state_dir, r)) for r in gone)
    assert read_upsert_state(spark, state_dir, version=5).count() > 0
    assert stats2["n_files_removed"] > 0


def test_holt_winters_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming Holt–Winters == the batch secondary-sort scan: feed the
    SAME zero-filled hourly series rn-ordered in chunks, compare every
    emitted (level, trend, seasonal, onestep) row."""
    from fawac_cdc_spark.operators.windows import hourly_count_spine
    from fawac_cdc_spark.registry import all_specs

    series = hourly_count_spine(spark, sf_dir).orderBy("rn", "event_type").collect()
    per = (len(series) + N_CHUNKS - 1) // N_CHUNKS
    chunks = [series[i * per : (i + 1) * per] for i in range(N_CHUNKS)]
    feed = _write_chunk_feed(
        spark, tmp_path, "hw_series", chunks, cdc.HW_SERIES_SCHEMA
    )
    stream = (
        spark.readStream.schema(cdc.HW_SERIES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    emitted = _run_to_memory(
        spark, cdc.holt_winters_stream(stream), "hw_stream_out", "update"
    ).toPandas()
    got = {
        (r.event_type, r.rn): (r.hour_slot, r.n_events, r.level, r.trend,
                               r.seasonal, r.onestep)
        for r in emitted.itertuples()
    }
    want = {
        (r["event_type"], r["rn"]): (
            r["hour_slot"], r["n_events"], r["level"], r["trend"],
            r["seasonal"], r["onestep"],
        )
        for r in all_specs()["holt_winters_hourly"].fn(spark, sf_dir).collect()
    }
    assert got == want


def test_page_hinkley_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming Page–Hinkley == the batch window scan: feed the SAME
    day-ordered per-type daily-mean series (pinned reference mean) in
    chunks, aggregate the emitted per-row PH values, and compare the
    per-type summary to the registered batch detector exactly."""
    from fawac_cdc_spark.operators.stats_ext import PH_LAMBDA, ph_daily_series
    from fawac_cdc_spark.registry import all_specs

    series = ph_daily_series(spark, sf_dir).orderBy("rn", "event_type").collect()
    per = (len(series) + N_CHUNKS - 1) // N_CHUNKS
    chunks = [series[i * per : (i + 1) * per] for i in range(N_CHUNKS)]
    feed = _write_chunk_feed(
        spark, tmp_path, "ph_series", chunks, cdc.PH_SERIES_SCHEMA
    )
    stream = (
        spark.readStream.schema(cdc.PH_SERIES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    emitted = _run_to_memory(
        spark, cdc.page_hinkley_stream(stream), "ph_stream_out", "update"
    ).toPandas()
    got = {}
    for etype, grp in emitted.groupby("event_type"):
        alarms = grp[grp["alarmed"] == 1]["day"]
        got[etype] = (
            len(grp),
            round(grp["ph"].max(), 6),
            alarms.min() if len(alarms) else None,
            int(len(alarms) > 0),
        )
    want = {
        r["event_type"]: (
            r["n_days"],
            r["peak_ph"],
            r["first_alarm_day"],
            r["alarmed"],
        )
        for r in all_specs()["page_hinkley_by_type"].fn(spark, sf_dir).collect()
    }
    assert got == want
    # every emitted ph respects the rounded-threshold flag rule
    assert (
        (emitted["alarmed"] == 1) == (emitted["ph"] > PH_LAMBDA)
    ).all()


def test_dispersion_stream_matches_batch(spark, sf_dir, tmp_path):
    """Streaming dispersion moments == the batch spine scan: feed the
    SAME zero-filled hourly series in chunks; the final per-type
    (n, Σx, Σx²) must equal the batch integers exactly, and the Fano
    index reconstructed from them must equal the registered query."""
    from fawac_cdc_spark.operators.windows import hourly_count_spine
    from fawac_cdc_spark.registry import all_specs

    series = hourly_count_spine(spark, sf_dir).orderBy("rn", "event_type").collect()
    per = (len(series) + N_CHUNKS - 1) // N_CHUNKS
    chunks = [series[i * per : (i + 1) * per] for i in range(N_CHUNKS)]
    feed = _write_chunk_feed(
        spark, tmp_path, "disp_series", chunks, cdc.DISP_SERIES_SCHEMA
    )
    stream = (
        spark.readStream.schema(cdc.DISP_SERIES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    plan = cdc.dispersion_stream(stream)._jdf.queryExecution().logical().toString()
    assert "FlatMapGroupsInPandasWithState" not in plan, "needs no Python worker"
    emitted = _run_to_memory(
        spark, cdc.dispersion_stream(stream), "disp_stream_out", "update"
    ).toPandas()
    final = {}
    for etype, grp in emitted.groupby("event_type"):
        last = grp.loc[grp["n_hours"].idxmax()]
        final[etype] = (int(last["n_hours"]), int(last["sx"]), int(last["sxx"]))
    want = {
        r["event_type"]: r
        for r in all_specs()["dispersion_index_hourly"].fn(spark, sf_dir).collect()
    }
    assert set(final) == set(want)
    for etype, (n, sx, sxx) in final.items():
        r = want[etype]
        assert n == r["n_hours"] and sx == r["n_events"]
        disp = round(((sxx - sx * sx / n) / (n - 1)) / (sx / n), 6)
        assert r["dispersion_index"] == pytest.approx(disp, abs=1e-6)


def test_page_hinkley_stream_sorts_within_batch(spark, sf_dir, tmp_path):
    """Rows arriving SHUFFLED WITHIN each micro-batch must not change
    the detector: the state handler sorts by rn before advancing, so
    only cross-batch order is a contract.  Same summary equality as the
    ordered-feed test."""
    import random

    from fawac_cdc_spark.operators.stats_ext import ph_daily_series
    from fawac_cdc_spark.registry import all_specs

    series = ph_daily_series(spark, sf_dir).orderBy("rn", "event_type").collect()
    per = (len(series) + N_CHUNKS - 1) // N_CHUNKS
    rng = random.Random(42)
    chunks = []
    for i in range(N_CHUNKS):
        chunk = list(series[i * per : (i + 1) * per])
        rng.shuffle(chunk)
        chunks.append(chunk)
    feed = _write_chunk_feed(
        spark, tmp_path, "ph_series_shuf", chunks, cdc.PH_SERIES_SCHEMA
    )
    stream = (
        spark.readStream.schema(cdc.PH_SERIES_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    emitted = _run_to_memory(
        spark, cdc.page_hinkley_stream(stream), "ph_stream_shuf_out", "update"
    ).toPandas()
    got = {}
    for etype, grp in emitted.groupby("event_type"):
        alarms = grp[grp["alarmed"] == 1]["day"]
        got[etype] = (
            len(grp),
            round(grp["ph"].max(), 6),
            alarms.min() if len(alarms) else None,
        )
    want = {
        r["event_type"]: (r["n_days"], r["peak_ph"], r["first_alarm_day"])
        for r in all_specs()["page_hinkley_by_type"].fn(spark, sf_dir).collect()
    }
    assert got == want


# --- watermark-buffered gates round 13 (VERDICT r12 #4) ----------------------


def test_semantic_dedup_watermarked_matches_batch_under_shuffled_arrival(
    spark, sf_dir, tmp_path
):
    """stream==batch for the SEMANTIC gate WITHOUT the id-ordered-arrival
    precondition: embeddings arrive round-robin-shuffled across four
    micro-batches, event times assigned in vec_id order; with a delay
    covering the disorder every real vector matures on the flush batches
    and admission equals semantic_dedup_admissions — including WHICH
    member of each close pair survives (the smallest id)."""
    from fawac_cdc_spark.functions.similarity import EMB_DIM, N_CENTROIDS
    from fawac_cdc_spark.streaming.batch_equiv import semantic_dedup_admissions

    tbl = load_table(spark, sf_dir, "embeddings")
    cents = [
        (r.vec_id, list(r.embedding))
        for r in tbl.where(F.col("vec_id") < N_CENTROIDS).orderBy("vec_id").collect()
    ]
    d = [r + (_ts(_WM_BASE, i),) for i, r in enumerate(tbl.orderBy("vec_id").collect())]
    chunks = [d[i::4] for i in range(4)]
    span = len(d) + 10
    fvec = [1.0] + [0.0] * (EMB_DIM - 1)
    chunks.append([(999_999, fvec, 0, _ts(_WM_BASE, span + 7200))])
    chunks.append([(999_998, fvec, 0, _ts(_WM_BASE, span + 7201))])
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_sem", chunks, cdc.EMB_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.semantic_dedup_stream_watermarked(
            cdc.read_embedding_stream_ts(spark, feed), cents, delay="1 hour"
        ),
        "wm_sem_out",
        "update",
    ).toPandas()
    got = emitted[emitted.vec_id < 999_000].sort_values("vec_id").reset_index(drop=True)
    assert not got.duplicated(["vec_id"]).any()
    want = (
        semantic_dedup_admissions(spark, sf_dir)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    for col in ("vec_id", "cent_id", "n_earlier_dups", "admitted"):
        assert (got[col].to_numpy() == want[col].to_numpy()).all(), col


def test_semantic_dedup_watermarked_drops_beyond_delay(spark, tmp_path):
    """Late-arrival boundary for the watermarked semantic gate: a vector
    whose disorder exceeds the delay is dropped at the state handler —
    never admitted, never appended to the cell's seen set."""
    from fawac_cdc_spark.functions.similarity import EMB_DIM

    v = [1.0] * EMB_DIM  # both real vectors identical -> cosine 1.0
    cents = [(0, [1.0] + [0.0] * (EMB_DIM - 1))]
    fvec = [1.0] + [0.0] * (EMB_DIM - 1)
    chunks = [
        [(10, v, 0, _ts(_WM_BASE, 1000))],
        [(999, fvec, 0, _ts(_WM_BASE, 7200))],  # advances the watermark
        [(5, v, 0, _ts(_WM_BASE, 5))],  # late beyond the 10 s delay
        [(998, fvec, 0, _ts(_WM_BASE, 7201))],  # fires the timeout
    ]
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_sem_late", chunks, cdc.EMB_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.semantic_dedup_stream_watermarked(
            cdc.read_embedding_stream_ts(spark, feed), cents, delay="10 seconds"
        ),
        "wm_sem_late_out",
        "update",
    ).toPandas()
    assert 5 not in set(emitted["vec_id"])  # dropped, not admitted
    row10 = emitted[emitted.vec_id == 10]
    assert len(row10) == 1 and bool(row10["admitted"].iloc[0])


def test_token_budget_watermarked_matches_batch_under_shuffled_arrival(
    spark, sf_dir, tmp_path
):
    """stream==batch for the token-budget gate WITHOUT the ord_key-ordered
    arrival precondition: documents arrive round-robin-shuffled, event
    times assigned in ord_key order (the curriculum-replay stamping);
    matured admissions equal token_budget_admissions exactly."""
    import hashlib

    from fawac_cdc_spark.functions.traindata import (
        SHUFFLE_SALT,
        TOKEN_BUDGET_PER_SOURCE,
    )
    from fawac_cdc_spark.streaming.batch_equiv import token_budget_admissions

    tbl = load_table(spark, sf_dir, "documents")
    rows = sorted(
        tbl.collect(),
        key=lambda r: hashlib.md5(f"{r['doc_id']}{SHUFFLE_SALT}".encode()).hexdigest(),
    )
    d = [r + (_ts(_WM_BASE, i),) for i, r in enumerate(rows)]
    chunks = [d[i::4] for i in range(4)]
    span = len(d) + 10
    flush = "flushtok one two three four five six"
    chunks.append([(999_999, flush, "en", "flushsrc", len(flush), _ts(_WM_BASE, span + 7200))])
    chunks.append([(999_998, flush, "en", "flushsrc", len(flush), _ts(_WM_BASE, span + 7201))])
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_budget", chunks, cdc.DOC_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.token_budget_stream_watermarked(
            cdc.read_document_stream_ts(spark, feed), delay="1 hour"
        ),
        "wm_budget_out",
        "update",
    ).toPandas()
    real = emitted[emitted.doc_id < 999_000]
    assert not real.duplicated(["doc_id"]).any()
    got = dict(zip(real["doc_id"], real["admitted"]))
    want = {
        r["doc_id"]: r["admitted"]
        for r in token_budget_admissions(spark, sf_dir).collect()
    }
    assert got == want
    per_src = real[real["admitted"]].groupby("source")["ntok"].sum()
    assert (per_src <= TOKEN_BUDGET_PER_SOURCE).all()


def test_token_budget_watermarked_drops_beyond_delay(spark, tmp_path):
    """Late-arrival boundary for the watermarked budget gate: the late
    doc is dropped (never charged, never admitted), so the on-time doc
    keeps the budget regardless of ord_key order."""
    import hashlib

    from fawac_cdc_spark.functions.traindata import SHUFFLE_SALT

    text600 = " ".join(["tok"] * 600)
    flush = "flushtok one two three four five six"
    # a has the SMALLER ord_key (the batch form would admit a) but
    # arrives late beyond the delay
    a, b = sorted(
        (1, 2), key=lambda i: hashlib.md5(f"{i}{SHUFFLE_SALT}".encode()).hexdigest()
    )
    chunks = [
        [(b, text600, "en", "web", len(text600), _ts(_WM_BASE, 1000))],
        [(999, flush, "en", "flushsrc", len(flush), _ts(_WM_BASE, 7200))],
        [(a, text600, "en", "web", len(text600), _ts(_WM_BASE, 5))],  # late
        [(998, flush, "en", "flushsrc", len(flush), _ts(_WM_BASE, 7201))],
    ]
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_budget_late", chunks, cdc.DOC_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.token_budget_stream_watermarked(
            cdc.read_document_stream_ts(spark, feed), delay="10 seconds"
        ),
        "wm_budget_late_out",
        "update",
    ).toPandas()
    got = dict(zip(emitted["doc_id"], emitted["admitted"]))
    assert a not in got  # dropped, never charged
    assert got[b] is True or got[b] == True  # noqa: E712 — numpy bool


def test_span_dedup_watermarked_matches_batch_under_shuffled_arrival(
    spark, sf_dir, tmp_path
):
    """stream==batch for the span gate WITHOUT the id-ordered-arrival
    precondition: the corpus arrives round-robin-shuffled with event
    times in doc_id order; rebuilding every document from the matured
    verdicts equals span_removal_firstseen_df exactly (the smallest
    doc_id keeps its spans even when it arrives last)."""
    from fawac_cdc_spark.functions.dedup import SUBSTRING_GRAM_N, rewrite_excising
    from fawac_cdc_spark.streaming.batch_equiv import span_removal_firstseen_df

    tbl = load_table(spark, sf_dir, "documents")
    d = [
        r + (_ts(_WM_BASE, i),)
        for i, r in enumerate(
            tbl.select("doc_id", "text", "lang", "source", "n_chars")
            .orderBy("doc_id")
            .collect()
        )
    ]
    chunks = [d[i::4] for i in range(4)]
    span = len(d) + 10
    # >= SUBSTRING_GRAM_N tokens: the pipeline filters shorter docs
    # before the gram explode, and a filtered flush row cannot advance
    # the watermark -- its grams just stay buffered under their own keys
    flush = "flushtok one two three four five six seven eight"
    chunks.append([(999_999, flush, "en", "flushsrc", len(flush), _ts(_WM_BASE, span + 7200))])
    chunks.append([(999_998, flush, "en", "flushsrc", len(flush), _ts(_WM_BASE, span + 7201))])
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_span", chunks, cdc.DOC_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.span_dedup_stream_watermarked(
            cdc.read_document_stream_ts(spark, feed), delay="1 hour"
        ),
        "wm_span_out",
        "update",
    )
    epdf = emitted.toPandas()
    assert not epdf.duplicated(["doc_id", "i"]).any()
    assert epdf["dup"].any()
    n = SUBSTRING_GRAM_N
    covered = (
        emitted.where("dup")
        .select("doc_id", F.explode(F.expr(f"sequence(i, i + {n - 1})")).alias("p"))
        .distinct()
    )
    t = tbl.select("doc_id", F.split("text", " ").alias("toks"))
    got = rewrite_excising(t, covered).toPandas().set_index("doc_id").sort_index()
    want = (
        span_removal_firstseen_df(spark, sf_dir)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert (got["kept_text"] == want["kept_text"]).all()
    assert (got["n_spans_removed"] == want["n_spans_removed"]).all()
    assert (got["chars_removed"] == want["chars_removed"]).all()


def test_span_dedup_watermarked_drops_beyond_delay(spark, tmp_path):
    """Late-arrival boundary for the watermarked span gate: the late
    smaller-id doc's grams are dropped (never judged, never seize
    ownership), and the on-time larger id keeps its spans."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    flush = "flushtok one two three four five six seven eight"
    chunks = [
        [(10, text, "en", "web", len(text), _ts(_WM_BASE, 1000))],
        [(999, flush, "en", "flushsrc", len(flush), _ts(_WM_BASE, 7200))],
        [(5, text, "en", "web", len(text), _ts(_WM_BASE, 5))],  # late
        [(998, flush, "en", "flushsrc", len(flush), _ts(_WM_BASE, 7201))],
    ]
    feed = _write_chunk_feed(
        spark, tmp_path, "wm_span_late", chunks, cdc.DOC_TS_STREAM_SCHEMA
    )
    emitted = _run_to_memory(
        spark,
        cdc.span_dedup_stream_watermarked(
            cdc.read_document_stream_ts(spark, feed), delay="10 seconds"
        ),
        "wm_span_late_out",
        "update",
    ).toPandas()
    assert 5 not in set(emitted["doc_id"])
    ten = emitted[emitted.doc_id == 10]
    assert len(ten) > 0 and not ten["dup"].any()


def test_money_cents_is_half_up_not_bankers():
    """The stateful ops' money→cents conversion must match the batch
    oracles' CAST(value AS DECIMAL(18,2)) (HALF_UP), not Python round()'s
    banker's rounding, on exact half-cent values."""
    assert cdc._money_cents(0.025) == 3  # banker's round(0.025, 2) -> 0.02
    assert cdc._money_cents(0.035) == 4  # banker's would also give 0.04 here
    assert cdc._money_cents(0.005) == 1
    assert cdc._money_cents(2.675) == 268  # float 2.675 binary-rounds DOWN via round()
    assert cdc._money_cents(12.34) == 1234
    assert cdc._money_cents(0.0) == 0


# --- the *_watermarked gates' shared maturity buffer, without Spark ---------


def _group_state(schema, value=None, wm_ms=None):
    """A GroupState exactly as the applyInPandasWithState worker builds
    it: the stored value in its pickled internal form; with ``wm_ms``,
    event-time timeouts and that watermark, else no timeout."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    return GroupState(
        optionalValue=None if value is None else schema.toInternal(value),
        batchProcessingTimeMs=0,
        eventTimeWatermarkMs=-1 if wm_ms is None else wm_ms,
        timeoutConf=GroupStateTimeout.NoTimeout
        if wm_ms is None
        else GroupStateTimeout.EventTimeTimeout,
        hasTimedOut=False,
        watermarkPresent=wm_ms is not None,
        defined=value is not None,
        updated=False,
        removed=False,
        timeoutTimestamp=GroupState.NO_TIMESTAMP,
        keyAsUnsafe=b"",
        valueSchema=schema,
    )


def _gate_state(wm_ms, value=None):
    return _group_state(cdc.WM_SPAN_DEDUP_STATE_SCHEMA, value, wm_ms)


def _span_arrivals(rows):
    """One Arrow chunk of span-gate input: (us, doc_id, i) rows."""
    return pd.DataFrame(
        {
            "doc_id": [d for _, d, _ in rows],
            "i": [i for _, _, i in rows],
            "ingest_ts": pd.to_datetime([u for u, _, _ in rows], unit="us"),
        }
    )


def _timeout_ms(state):
    import json

    return json.loads(state.json())["timeoutTimestamp"]


def test_watermark_buffer_drops_new_arrival_at_watermark():
    state = _gate_state(wm_ms=1_000)
    arrivals = [(1_000_000, 1, 0), (999_999, 2, 0), (1_000_001, 3, 0)]
    mature, pend = cdc._release_matured(
        state, iter([_span_arrivals(arrivals)]), ("doc_id", "i")
    )
    assert mature == []
    assert pend == [(1_000_001, 3, 0)]


def test_watermark_buffer_matures_buffered_row_at_watermark():
    state = _gate_state(
        wm_ms=1_000, value=(-1, [(1_000_000, 7, 0), (1_000_001, 8, 0)])
    )
    mature, pend = cdc._release_matured(state, iter([]), ("doc_id", "i"))
    assert mature == [(1_000_000, 7, 0)]
    assert pend == [(1_000_001, 8, 0)]


def test_watermark_buffer_judges_in_ingest_ts_then_id_order():
    """Shuffled arrivals over two chunks, buffered through a state
    round trip, mature in (ingest_ts, doc_id, i) order."""
    rows = [
        (900_000, 4, 0),
        (500_000, 9, 1),
        (500_000, 2, 3),
        (500_000, 2, 1),
        (700_000, 1, 0),
    ]
    state = _gate_state(wm_ms=0)
    mature, pend = cdc._release_matured(
        state,
        iter([_span_arrivals(rows[:2]), _span_arrivals(rows[2:])]),
        ("doc_id", "i"),
    )
    assert mature == [] and len(pend) == len(rows)
    state = _gate_state(wm_ms=900, value=(-1, pend))
    mature, pend = cdc._release_matured(state, iter([]), ("doc_id", "i"))
    assert mature == sorted(rows)
    assert pend == []


def test_watermark_buffer_rearms_timeout_at_oldest_pending_ms_plus_one():
    state = _gate_state(wm_ms=1_000, value=(-1, [(3_500_999, 1, 0)]))
    cdc._release_matured(
        state, iter([_span_arrivals([(2_000_500, 2, 0)])]), ("doc_id", "i")
    )
    assert _timeout_ms(state) == 2_001

    # nothing left pending: the timeout is not re-armed
    state = _gate_state(wm_ms=5_000, value=(-1, [(3_500_999, 1, 0)]))
    mature, pend = cdc._release_matured(state, iter([]), ("doc_id", "i"))
    assert pend == [] and len(mature) == 1
    assert _timeout_ms(state) == -1


# --- the keyed scan, without Spark --------------------------------------------


def test_keyed_scan_sorts_after_draining_every_chunk():
    """A group split over two Arrow chunks folds in ONE (ts, event_id)
    order: ``_scan_group`` concatenates the chunks before sorting, where a
    per-chunk sort would fold ts 4 before ts 1."""
    seen = []

    def step(key, st, pdf):
        seen.extend(zip(pdf["ts"].tolist(), pdf["event_id"].tolist()))
        return st, []

    scan = cdc._scan_group(
        cdc.HOLT_OUTPUT_SCHEMA, (0.0, 0.0, 0), step, ["ts", "event_id"]
    )
    chunks = [
        pd.DataFrame({"ts": [4, 2], "event_id": [0, 9]}),
        pd.DataFrame({"ts": [1, 2], "event_id": [0, 3]}),
    ]
    list(scan((7,), iter(chunks), _group_state(cdc.HOLT_STATE_SCHEMA)))
    assert seen == [(1, 0), (2, 3), (2, 9), (4, 0)]


def test_keyed_scan_restores_stored_state_else_init():
    from pyspark.sql import types as T

    state_schema = T.StructType(
        [T.StructField("total", T.LongType()), T.StructField("n", T.LongType())]
    )
    out_schema = T.StructType(
        [T.StructField("k", T.LongType()), *state_schema.fields]
    )

    def step(key, st, pdf):
        new = (st[0] + int(pdf["x"].sum()), st[1] + len(pdf))
        return new, [(key[0], *new)]

    scan = cdc._scan_group(out_schema, (100, 0), step, None)
    rows = [pd.DataFrame({"x": [1, 2]})]

    fresh = _group_state(state_schema)
    (out,) = scan((5,), iter(rows), fresh)
    assert fresh.get == (103, 2)
    assert out.values.tolist() == [[5, 103, 2]]

    stored = _group_state(state_schema, value=(10, 4))
    (out,) = scan((5,), iter(rows), stored)
    assert stored.get == (13, 6)
    assert out.values.tolist() == [[5, 13, 6]]


def test_frame_types_an_empty_emission_from_the_schema():
    """A Holt group past its 30-event prefix emits no rows; its frame
    still carries the output schema's columns and dtypes."""
    f = cdc._frame([], cdc.HOLT_OUTPUT_SCHEMA)
    assert f.empty and list(f.columns) == cdc.HOLT_OUTPUT_SCHEMA.names
    assert [str(t) for t in f.dtypes] == [
        "int64", "int64", "int32", "float64", "float64", "float64"
    ]
    f = cdc._frame([("view", 3, "2024-01-02", 0.5, 1)], cdc.PH_STREAM_OUTPUT_SCHEMA)
    assert [str(t) for t in f.dtypes] == [
        "object", "int32", "object", "float64", "int32"
    ]
