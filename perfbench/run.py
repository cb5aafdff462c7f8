"""Run one benchmark workload; the last stdout line is its JSON result.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Workloads (README.md says why each was chosen):

    analytics   17 TPC-H-style (olap) and 6 LLM corpus-prep queries from
                the registry
    cdc_ingest  Structured Streaming CDC upserts, with point lookups,
                a time-travel read and a vacuum between rounds

One closed-loop client (one request in flight) drives the engine only
through its public functions on ``local[nproc]``.  The tables are made
once per checkout under ``.benchrun/`` from a fixed data seed; ``--seed``
orders the queries of each timed pass and picks the CDC lookup keys.  A
run sets up (session, registry, an untimed warm-up pass of the queries or
round of upserts), measures a fixed amount of work (``PASSES`` passes of
the queries, or ``CDC_ROUNDS`` rounds of upserts), then checks every
output, untimed.  ``--seconds`` is accepted and ignored: the measured
window is the work, so that a faster engine is timed over the same
operations, not more of them.  ``--trace 1`` adds spans and counters and
prints the per-layer metrics instead of the end-to-end ones.  Spark's own
output goes to ``.benchrun/logs/<workload>.log``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, stats  # noqa: E402
from perfbench.spans import SparkCounters, Tracer, batch_listener_class  # noqa: E402

WORK = os.path.join(ROOT, ".benchrun")
PKG = "fawac_cdc_spark."

# Scale of the generated tables: lineitem 120k rows, events 20k,
# documents 1k, embeddings 400.  Chosen so that a run fits its time
# budget on 4 cores.  Halving it to sf0.01 did not shorten an analytics
# run: per-query overheads, not data volume, set its length.
SF = 0.02
# cdc_ingest feeds CDC_ROUNDS rounds of CDC_ROUND chunks (one micro-batch
# each) and makes CDC_LOOKUPS point lookups after each round, enough that
# the tail percentile (stats.TAIL_BEYOND samples beyond it) lies well
# above the median.
CDC_ROUND = 5
CDC_ROUNDS = 3
CDC_CHUNKS = CDC_ROUND * CDC_ROUNDS
CDC_LOOKUPS = 5

# The analytics queries: the cheapest registry query of each kind, so that
# a warm-up pass and PASSES timed passes fit the run budget (48 runs in
# 3420 s) on a 4-core VM, with every query layer present.  The olap ones
# run in the JVM (scans, joins, aggregates, windows); the corpus ones
# build plans on the driver, run many small stages and Python workers.
OLAP = (
    # operators.tpch_ext: subqueries, outer and anti joins
    "q4_priority_exists",
    "q13_customer_distribution",
    "q15_top_supplier",
    "q17_small_qty_revenue",
    "q22_inactive_customers",
    # headline queries outside functions.*
    "flagship_revenue_by_nation_month",
    "pricing_summary",
    "orders_lineitem_by_priority",
    "q3_shipping_priority",
    "q10_returned_items",
    "topk_orders_per_status",
    "cdc_latest_state_per_user",
    "session_agg_30min_gap",
    "hourly_event_rollup",
    "discounted_cumsum_closed_form",
    "discounted_cumsum_per_user",
    "reference_td_advantage_pipeline",
)
CORPUS = (
    "minhash_lsh_candidates",
    "cosine_topk_query0",
    "rp_lsh_topk_query0",
    "knn_join_bucketed_top3",
    "bm25_topk_docs",
    "token_budget_selection",
)
ANALYTICS = OLAP + CORPUS
# Timed passes over ANALYTICS after the untimed warm-up pass.  Each query's
# latency is the fastest of its runs: other tenants of a shared host only
# ever slow a run down, and the fastest run is the one they disturbed least.
PASSES = 2
SCANNED = {
    "analytics": (
        "customer", "lineitem", "nation", "orders", "part", "region",
        "supplier", "events", "documents", "embeddings",
    ),
    "cdc_ingest": ("events",),
}

END_TO_END = (
    ("setup_s", "s", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("latency_p50_s", "s", "lower"),
    ("latency_tail_s", "s", "lower"),
)
QUERY_LAYERS = (
    "operators.tpch_ext",
    "operators.relational",
    "operators.aggregates",
    "operators.joins",
    "operators.tpch",
    "operators.windows",
    "streaming.batch_equiv",
    "plans.reference",
    "functions.dedup",
    "functions.similarity",
    "functions.traindata",
    "functions.text",
)
QUERY_METRICS = (
    ("build_s", "s", "lower"),
    ("build_jobs", "count", "lower"),
    ("plan_s", "s", "lower"),
    ("exec_s", "s", "lower"),
    ("tasks", "count", "lower"),
    ("task_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("slot_util", "ratio", "higher"),
)
CDC_METRICS = (
    ("upsert_s", "s", "lower"),
    ("add_batch_s", "s", "lower"),
    ("query_planning_s", "s", "lower"),
    ("wal_commit_s", "s", "lower"),
    ("files_written", "count", "lower"),
    ("write_amp", "ratio", "lower"),
    ("state_files", "count", "lower"),
    ("lookup_p50_s", "s", "lower"),
    ("lookup_tail_s", "s", "lower"),
    ("read_state_s", "s", "lower"),
    ("vacuum_s", "s", "lower"),
    ("vacuum_reclaimed_mb", "MB", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("state_bytes_per_row", "B/row", "lower"),
)
PER_LAYER = (
    ("session.start_s", "s", "lower"),
    ("registry.load_s", "s", "lower"),
    ("session.warmup_s", "s", "lower"),
    # Per layer, not end to end: at the engine's default 16 GB heap the
    # JVM's resident size follows G1's heap sizing, which differed by up
    # to 1.8x between runs of the same work.
    ("session.peak_rss_mb", "MB", "lower"),
    ("catalog.scan_s", "s", "lower"),
    *((f"{layer}.{m}", u, b) for layer in QUERY_LAYERS for m, u, b in QUERY_METRICS),
    *((f"streaming.cdc.{m}", u, b) for m, u, b in CDC_METRICS),
    ("trace.ops_per_s", "1/s", "higher"),
)


def cores() -> int:
    return len(os.sched_getaffinity(0))


@contextmanager
def fds_to(path: str):
    """Point stdout and stderr at ``path`` while the JVM is launched, so
    the JVM and the Python workers it forks log there, not to our stdout."""
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    try:
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        yield
    finally:
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for f in (fd, *saved):
            os.close(f)


def isolate(run_dir: str) -> None:
    """Keep Spark's scratch, the JVM's temp files and Python's inside the
    run directory, and let the Python workers import the engine."""
    local, tmp = os.path.join(run_dir, "local"), os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )


def latest_per_user(events: pd.DataFrame) -> pd.DataFrame:
    """Pandas replay of the upsert: newest (ts, event_id) row per user."""
    return (
        events.sort_values(["ts", "event_id"])
        .groupby("user_id", sort=False)
        .tail(1)[["user_id", "ts", "event_type", "value"]]
    )


def tree_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


def outcome(records: list[dict]) -> dict:
    """Attempted and failed counts of checked records; a record failed if
    it raised or its output did not match."""
    failed = sum(r["error"] is not None for r in records)
    return {"correct": failed == 0, "attempted": len(records), "failed": failed}


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.rng = np.random.default_rng(seed)
        self.tracer = Tracer(trace)
        self.data_dir = gen.ensure(os.path.join(WORK, "data"), SF)
        self.run_dir = os.path.join(WORK, "runs", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
        self.log_path = os.path.join(WORK, "logs", f"{workload}.log")
        open(self.log_path, "w").close()
        isolate(self.run_dir)
        self.spark = None
        self.counters = None
        self.listener = None
        self.layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        # Checked records: each has "error" (None, a traceback or the
        # mismatch), and until verify() its output "got".
        self.ops: list[dict] = []
        self.lookups: list[dict] = []
        self.checks: list[dict] = []
        self.window_s = 0.0
        # cdc_ingest: per round, the listener's batches of the twin and of
        # the main ingest
        self.pairs: list[tuple[slice, slice]] = []
        self.final = self.twin_final = None
        self.setup_s = 0.0
        self.rows_in = 0

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            with self.tracer.span("session.start"):
                with fds_to(self.log_path):
                    from fawac_cdc_spark.session import get_spark

                    self.spark = get_spark("perfbench", cpus=cores())
            with self.tracer.span("registry.load"):
                from fawac_cdc_spark.registry import all_specs

                self.specs = all_specs()
            if self.tracer.enabled:
                self.counters = SparkCounters(self.spark)
            with self.tracer.span("session.warmup"):
                if self.workload == "cdc_ingest":
                    self.cdc_warmup()
                else:
                    for name in ANALYTICS:
                        self.warm(name)
        self.setup_s = time.perf_counter() - t0

    # -- query workloads ---------------------------------------------------

    def warm(self, name: str) -> None:
        """Untimed run of one query, so that the timed passes find the JVM's
        code compiled and the Python workers started."""
        try:
            self.specs[name].fn(self.spark, self.data_dir).toPandas()
        except Exception:  # noqa: BLE001 - it fails again, and counts, when timed
            pass

    def run_queries(self, names: tuple[str, ...]) -> None:
        """PASSES passes over ``names``, each in an order drawn from the seed."""
        t0 = time.perf_counter()
        for p in range(PASSES):
            with self.tracer.span("pass", op=p):
                for i in self.rng.permutation(len(names)):
                    self.query(names[i])
        self.window_s = time.perf_counter() - t0

    def query(self, name: str) -> None:
        spec = self.specs[name]
        layer = spec.fn.__module__.removeprefix(PKG)
        rec = {"name": name, "error": None}
        op = len(self.ops)
        self.ops.append(rec)
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op", op=op, query=name, layer=layer):
                if self.tracer.enabled:
                    rec["got"] = self.traced_query(spec, layer, op)
                else:
                    rec["got"] = spec.fn(self.spark, self.data_dir).toPandas()
        except Exception:  # noqa: BLE001 - a failing query is counted, not fatal
            rec["error"] = traceback.format_exc()
        rec["latency"] = time.perf_counter() - t0

    def traced_query(self, spec, layer: str, op: int) -> pd.DataFrame:
        acc = self.layers[layer]
        with self.tracer.span("build", op=op, layer=layer):
            with self.counters.job_group() as jobs:
                df = spec.fn(self.spark, self.data_dir)
                acc["build_jobs"] += jobs()
        with self.tracer.span("plan", op=op, layer=layer):
            df._jdf.queryExecution().executedPlan()
        before = self.counters.executor_totals()
        with self.tracer.span("exec", op=op, layer=layer):
            out = df.toPandas()
        after = self.counters.executor_totals()
        for k, v in after.items():
            acc[k] += v - before[k]
        return out

    def timed_lookup(self, read, expected: pd.DataFrame) -> None:
        rec = {"expected": expected, "error": None}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("lookup"):
                rec["got"] = read()
        except Exception:  # noqa: BLE001
            rec["error"] = traceback.format_exc()
        rec["latency"] = time.perf_counter() - t0
        self.lookups.append(rec)

    # -- CDC workload ------------------------------------------------------

    def cdc_dirs(self, name: str) -> tuple[str, str, str]:
        base = os.path.join(self.run_dir, name)
        src = os.path.join(base, "src")
        os.makedirs(src)
        return src, os.path.join(base, "state"), os.path.join(base, "ckpt")

    def feed(self, src: str, chunks: list[pd.DataFrame], first: int) -> int:
        n_bytes = 0
        for i, chunk in enumerate(chunks):
            path = os.path.join(src, f"chunk-{first + i:05d}.parquet")
            pq.write_table(pa.Table.from_pandas(chunk, preserve_index=False), path)
            n_bytes += os.path.getsize(path)
        return n_bytes

    def cdc_warmup(self) -> None:
        from fawac_cdc_spark.streaming import cdc

        events = pq.read_table(os.path.join(self.data_dir, "events.parquet")).to_pandas()
        self.events = events.sort_values(["ts", "event_id"]).reset_index(drop=True)
        bounds = np.linspace(0, len(self.events), CDC_CHUNKS + 1).astype(int)
        self.chunks = [self.events.iloc[a:b] for a, b in zip(bounds[:-1], bounds[1:])]
        self.listener = batch_listener_class()()
        self.spark.streams.addListener(self.listener)
        src, state, ckpt = self.cdc_dirs("warmup")
        self.feed(src, self.chunks[:2], 0)
        cdc.cdc_upsert_run(self.spark, src, state, ckpt).toPandas()
        self.listener.wait_for(2)
        cdc.read_upsert_state(self.spark, state).limit(1).toPandas()
        cdc.vacuum_state(state)

    def upsert(self, dirs: tuple[str, str, str], chunks: list[pd.DataFrame], first: int) -> dict:
        """Feed ``chunks`` and drain them with one ``cdc_upsert_run``; adds
        one op record per micro-batch."""
        from fawac_cdc_spark.streaming import cdc

        src, state, ckpt = dirs
        in_bytes = self.feed(src, chunks, first)
        files0 = tree_files(state) if self.tracer.enabled else {}
        n0 = len(self.listener.batches)
        out = {"final": None, "error": None, "in_bytes": in_bytes}
        t0 = time.perf_counter()
        try:
            with self.tracer.span("streaming.cdc.upsert", dir=os.path.dirname(state)):
                out["final"] = cdc.cdc_upsert_run(self.spark, src, state, ckpt)
        except Exception:  # noqa: BLE001 - the round's batches count as failed
            out["error"] = traceback.format_exc()
        out["s"] = time.perf_counter() - t0
        self.ops.extend({"error": out["error"]} for _ in chunks)
        if out["error"] is None:
            self.listener.wait_for(n0 + len(chunks))
        out["batches"] = slice(n0, n0 + len(chunks))
        if self.tracer.enabled:
            out["new"] = {p: n for p, n in tree_files(state).items() if p not in files0}
        return out

    def run_cdc(self) -> None:
        from pyspark.sql import functions as F

        from fawac_cdc_spark.streaming import cdc

        cols = ["user_id", "ts", "event_type", "value"]
        # Two identical ingests: each round goes to the twin, then to the
        # main one, and each micro-batch counts at the faster of its two
        # runs, as a query counts at the fastest of its passes.  Lookups,
        # time travel and the per-layer counters use the main ingest.
        twin, main = self.cdc_dirs("twin"), self.cdc_dirs("ingest")
        state = main[1]
        acc = self.layers["streaming.cdc"]
        prev_version = None
        n_users = int(self.events["user_id"].max()) + 1
        for first in range(0, CDC_CHUNKS, CDC_ROUND):
            chunks = self.chunks[first : first + CDC_ROUND]
            a = self.upsert(twin, chunks, first)
            b = self.upsert(main, chunks, first)
            if a["error"] or b["error"]:
                break  # the final-state checks then fail too
            self.window_s += min(a["s"], b["s"])
            self.pairs.append((a["batches"], b["batches"]))
            self.twin_final, self.final = a["final"], b["final"]
            self.rows_in += sum(len(c) for c in chunks)
            if self.tracer.enabled:
                acc["upsert_s"] += b["s"]
                acc["files_written"] += len(b["new"])
                acc["written_bytes"] += sum(b["new"].values())
                acc["input_bytes"] += b["in_bytes"]
            replay = latest_per_user(pd.concat(self.chunks[: first + len(chunks)]))
            for k in self.rng.integers(0, n_users, CDC_LOOKUPS):
                want = replay[replay["user_id"] == k]
                self.timed_lookup(
                    lambda k=int(k): cdc.read_upsert_state(self.spark, state)
                    .where(F.col("user_id") == k)
                    .select(*cols)
                    .toPandas(),
                    want,
                )
            # time travel to the state the previous round left behind
            version = prev_version if prev_version is not None else cdc.state_versions(state)[-1]
            old = replay if prev_version is None else self.prev_replay
            t0 = time.perf_counter()
            got = cdc.read_upsert_state(self.spark, state, version=version).select(*cols).toPandas()
            acc["read_state_s"] += time.perf_counter() - t0
            self.checks.append({"kind": "time_travel", "got": got, "expected": old, "error": None})
            prev_version, self.prev_replay = cdc.state_versions(state)[-1], replay
            t0 = time.perf_counter()
            vac = cdc.vacuum_state(state)
            acc["vacuum_s"] += time.perf_counter() - t0
            acc["vacuum_reclaimed_mb"] += vac["bytes_reclaimed"] / 2**20
            cdc.vacuum_state(twin[1])
        self.state_dir = state

    def check_cdc_state(self) -> None:
        """Final state against the batch query over the same events."""
        prefix = os.path.join(self.run_dir, "prefix")
        os.makedirs(prefix)
        pq.write_table(
            pa.Table.from_pandas(pd.concat(self.chunks), preserve_index=False),
            os.path.join(prefix, "events.parquet"),
        )
        want = self.specs["cdc_latest_state_per_user"].fn(self.spark, prefix).toPandas()
        for kind, final in (("state", self.final), ("twin_state", self.twin_final)):
            rec = {"kind": kind, "expected": want, "error": None}
            if final is None:
                rec["error"] = "no state: an upsert failed"
            else:
                rec["got"] = final.toPandas()
            self.checks.append(rec)

    def cdc_layer_metrics(self) -> None:
        from fawac_cdc_spark.streaming import cdc

        acc = self.layers["streaming.cdc"]
        batches = [b for _, main in self.pairs for b in self.listener.batches[main]]
        for name, key in (
            ("add_batch_s", "addBatch"),
            ("query_planning_s", "queryPlanning"),
            ("wal_commit_s", "walCommit"),
        ):
            acc[name] = sum(b["ms"].get(key, 0) for b in batches) / 1e3
        acc["write_amp"] = acc.pop("written_bytes", 0.0) / max(acc.pop("input_bytes", 0.0), 1.0)
        acc["state_files"] = float(len(tree_files(os.path.join(self.state_dir, "data"))))
        acc["rows_per_s"] = self.rows_in / self.window_s
        look = [r["latency"] for r in self.lookups if r["error"] is None]
        acc["lookup_p50_s"] = statistics.median(look)
        acc["lookup_tail_s"] = stats.tail(look)[1]
        newest = cdc.state_versions(self.state_dir)[-1]
        with open(os.path.join(self.state_dir, f"v{newest}.json")) as fh:
            live = json.load(fh)["buckets"].values()
        live_bytes = sum(
            sum(tree_files(os.path.join(self.state_dir, rel)).values()) for rel in live
        )
        rows = cdc.read_upsert_state(self.spark, self.state_dir).count()
        acc["state_bytes_per_row"] = live_bytes / max(rows, 1)

    # -- checks and results ------------------------------------------------

    def expected(self, name: str) -> pd.DataFrame:
        """DuckDB oracle answer for ``name``, computed once per checkout."""
        import hashlib
        import pickle

        sql = self.specs[name].oracle
        key = hashlib.sha1(sql.encode()).hexdigest()[:16]
        cache = os.path.join(self.data_dir, "oracle")
        path = os.path.join(cache, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        from tools.parity import make_duckdb

        if not hasattr(self, "_duck"):
            self._duck = make_duckdb(self.data_dir)
        df = self._duck.execute(sql).df()
        os.makedirs(cache, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "wb") as fh:
            pickle.dump(df, fh)
        os.replace(tmp, path)
        return df

    def verify(self) -> None:
        from tools.parity import compare_frames

        def check(rec: dict, expected: pd.DataFrame) -> None:
            if rec["error"] is None:
                problems = compare_frames(rec["got"], expected)
                if problems:
                    rec["error"] = "; ".join(problems)
            rec.pop("got", None)

        for rec in self.ops:
            if "name" in rec:
                check(rec, self.expected(rec["name"]))
        for rec in self.lookups + self.checks:
            if "expected" in rec:
                check(rec, rec.pop("expected"))
        for rec in self.ops + self.lookups + self.checks:
            if rec["error"] is not None:
                print(f"FAILED {rec.get('name', rec.get('kind', 'lookup'))}: {rec['error']}", file=sys.stderr)

    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            hwm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024

    def scan_tables(self) -> None:
        from fawac_cdc_spark.catalog import load_table

        for table in SCANNED[self.workload]:
            with self.tracer.span("catalog.scan", table=table):
                load_table(self.spark, self.data_dir, table).write.format("noop").mode(
                    "overwrite"
                ).save()

    def latencies(self) -> list[float]:
        """One latency per micro-batch, or per query: the fastest of its
        correct timed runs."""
        if self.workload == "cdc_ingest":
            ms = [b["ms"]["triggerExecution"] / 1e3 for b in self.listener.batches]
            return [min(x, y) for a, b in self.pairs for x, y in zip(ms[a], ms[b])]
        best: dict[str, float] = {}
        for r in self.ops:
            if r["error"] is None:
                best[r["name"]] = min(r["latency"], best.get(r["name"], math.inf))
        return list(best.values())

    def end_to_end(self) -> dict[str, float]:
        lat = self.latencies()
        # cdc_ingest: the faster upsert call of each round; analytics: one
        # pass at each query's fastest
        window = self.window_s if self.workload == "cdc_ingest" else sum(lat)
        return {
            "setup_s": self.setup_s,
            "ops_per_s": len(lat) / window,
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": stats.tail(lat)[1],
        }

    def per_layer(self, ops_per_s: float) -> dict[str, float]:
        own = self.tracer.self_time()
        out: dict[str, float] = defaultdict(float)
        for s in self.tracer.spans:
            name, layer = s["name"], s["attrs"].get("layer")
            if name in ("session.start", "registry.load", "session.warmup", "catalog.scan"):
                out[f"{name}_s"] += own[s["id"]]
            elif name in ("build", "plan", "exec"):
                out[f"{layer}.{name}_s"] += own[s["id"]]
        for layer, acc in self.layers.items():
            for k, v in acc.items():
                out[f"{layer}.{k}"] += v
        for layer in QUERY_LAYERS:
            exec_s = out[f"{layer}.exec_s"]
            out[f"{layer}.slot_util"] = (
                out[f"{layer}.task_s"] / (exec_s * cores()) if exec_s else 0.0
            )
        out["session.peak_rss_mb"] = self.peak_rss_mb()
        out["trace.ops_per_s"] = ops_per_s
        unknown = set(out) - {n for n, _, _ in PER_LAYER}
        if unknown:
            print(f"per-layer values outside BENCHMARK.json: {sorted(unknown)}", file=sys.stderr)
        return {n: out[n] for n, _, _ in PER_LAYER}

    def run(self) -> dict:
        self.setup()
        if self.workload == "cdc_ingest":
            self.run_cdc()
            self.check_cdc_state()
        else:
            self.run_queries(ANALYTICS)
        if self.tracer.enabled:
            self.scan_tables()
        self.verify()
        e2e = self.end_to_end()
        if self.tracer.enabled:
            if self.workload == "cdc_ingest":
                self.cdc_layer_metrics()
            values, defs = self.per_layer(e2e["ops_per_s"]), PER_LAYER
            traces = os.path.join(WORK, "traces")
            os.makedirs(traces, exist_ok=True)
            self.tracer.write(os.path.join(traces, f"{self.workload}.json"))
        else:
            values, defs = e2e, END_TO_END
        return {
            **outcome(self.ops + self.lookups + self.checks),
            "metrics": {
                stats.check_name(n): {"value": values[n], "unit": stats.check_unit(u)}
                for n, u, _ in defs
            },
        }

    def close(self) -> None:
        """Stop the session and the JVM, wait for it, drop the run dir."""
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(self.run_dir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("analytics", "cdc_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    # Required by the benchmark's command-line interface; a run measures
    # fixed work, not a time window.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
