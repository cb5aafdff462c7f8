"""Four query rules that many engine queries share, each built by ONE
Spark builder:

- the session gap: ``streaming/batch_equiv.py::sessionize``;
- the CDC newest row per user: ``streaming/batch_equiv.py::newest_per_user``;
- the eval split: ``functions/decontam.py::eval_split``;
- the rank-bucket prefix: ``operators/helpers.py::bucketed_prefix_sums``
  (with ``rank_bucket``).

The guard walks the AST of every engine module, skipping string
constants and f-strings, so the DuckDB oracles' hand-written SQL (the
independent check of each builder) does not count.  The boundary test
pins the session rule's edges, which neither test fixture reaches.
"""

from __future__ import annotations

import ast
import datetime as dt
import pathlib

import pytest

_PKG = pathlib.Path(__file__).resolve().parent.parent / "fawac_cdc_spark"

_BATCH_EQUIV = "streaming/batch_equiv.py"
_OWNERS = {
    "session gap": {(_BATCH_EQUIV, "sessionize")},
    "newest row": {(_BATCH_EQUIV, "newest_per_user")},
    "eval split": {("functions/decontam.py", "eval_split")},
    "rank bucket": {
        ("operators/helpers.py", "rank_bucket"),
        ("operators/helpers.py", "bucketed_prefix_sums"),
    },
}
# Sites that look like a rule but are not it, each with its reason.
_ALLOWED = {
    "session gap": {
        ("operators/analytics.py", "<module>"): "SESSION_GAP_SECONDS, the "
        "gap in seconds for the oracles' SQL",
        ("operators/analytics.py", "debounced_events"): "lags ts over "
        "(user_id, event_type) and keeps rows >= 300 s apart; not a session",
        ("streaming/cdc.py", "session_close_stream"): "the push-based "
        "operator folds the gap into its event-time timeout "
        "(pinned to session_agg_30min_gap in tests/test_streaming.py)",
    },
    "newest row": {
        ("operators/analytics.py", "ohlc_daily_events"): "the close of each "
        "(event_type, day), not the newest row per user",
    },
    "eval split": {},
    "rank bucket": {
        ("operators/analytics.py", "skyline_pareto_customers"): "running "
        "max in descending spend order, not a count prefix",
        ("operators/analytics.py", "abc_analysis_parts"): "descending "
        "cumulative mass",
        ("functions/text.py", "gini_concentration_by_source"): "per-source "
        "bucket partitions",
        ("functions/text.py", "doclen_log2_histogram"): "log2 histogram "
        "bins; no prefix sum",
    },
}


def _str_arg(call: ast.Call, value: str) -> bool:
    return bool(call.args) and isinstance(call.args[0], ast.Constant) and (
        call.args[0].value == value
    )


def _callee(node: ast.AST) -> str | None:
    """The name a call node calls (``F.lag(...)`` -> ``"lag"``)."""
    if not isinstance(node, ast.Call):
        return None
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _is_desc_of(node: ast.AST, col: str) -> bool:
    """``F.desc(col)`` or ``F.col(col).desc()``."""
    if _callee(node) != "desc":
        return False
    if _str_arg(node, col):
        return True
    inner = node.func.value if isinstance(node.func, ast.Attribute) else None
    return _callee(inner) == "col" and _str_arg(inner, col)


# constants whose use in code (not in SQL text) builds the rule
_RULE_CONSTANTS = {
    "SESSION_GAP_MIN": "session gap",
    "SESSION_GAP_SECONDS": "session gap",
    "_EVAL_BUCKETS": "eval split",
}


def _rules(node: ast.AST) -> list[str]:
    """The shared rules ``node`` builds by hand, if any."""
    out = []
    if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
        if node.id in _RULE_CONSTANTS:
            out.append(_RULE_CONSTANTS[node.id])
    name = _callee(node)
    if name == "lag" and _str_arg(node, "ts"):
        out.append("session gap")
    if name == "orderBy" and any(_is_desc_of(a, "ts") for a in node.args) and any(
        _is_desc_of(a, "event_id") for a in node.args
    ):
        out.append("newest row")
    if name == "rank_bucket" or (
        name == "length" and node.args and _callee(node.args[0]) == "bin"
    ):
        out.append("rank bucket")
    return out


def _sites() -> list[tuple[str, str, str, int]]:
    """(rule, module, top-level function or '<module>', line) of every
    hand-built rule outside strings and f-strings."""
    found = []

    def visit(node, rel, fn):
        if isinstance(node, ast.JoinedStr):
            return
        for rule in _rules(node):
            found.append((rule, rel, fn, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, fn)

    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            is_def = isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(top, rel, top.name if is_def else "<module>")
    return found


def test_each_shared_rule_has_one_spark_builder():
    sites = _sites()
    stray = [
        f"{rule}: {rel}:{line} ({fn})"
        for rule, rel, fn, line in sites
        if (rel, fn) not in _OWNERS[rule] and (rel, fn) not in _ALLOWED[rule]
    ]
    assert not stray, f"hand-built copies of a shared rule: {stray}"
    # the guard is not vacuous: every owner builds its rule, and every
    # allowlisted site still exists
    seen = {(rule, rel, fn) for rule, rel, fn, _ in sites}
    for rule, owners in _OWNERS.items():
        assert any((rule, *o) in seen for o in owners), f"{rule}: no owner site"
        for site in _ALLOWED[rule]:
            assert (rule, *site) in seen, f"{rule}: stale allowlist entry {site}"


# --- the session rule at its edges ------------------------------------------

_T0 = dt.datetime(2024, 3, 1, 8, 0, 0)
_GAP = dt.timedelta(minutes=30)
_US = dt.timedelta(microseconds=1)
# (event_id, ts, user_id, event_type, expected session_seq)
_EDGE_EVENTS = [
    # user 1: exactly 30:00 continues; 30:00 + 1 µs splits
    (1, _T0, 1, "click", 1),
    (2, _T0 + _GAP, 1, "view", 1),
    (3, _T0 + 2 * _GAP + _US, 1, "purchase", 2),
    (4, _T0 + 3 * _GAP + _US, 1, "click", 2),
    # user 2: two events at one ts; event_id orders them (11 before 12)
    (12, _T0, 2, "click", 1),
    (11, _T0, 2, "view", 1),
    (13, _T0 + dt.timedelta(minutes=10), 2, "purchase", 1),
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("session_edges")
    ids, ts, users, types, _ = zip(*_EDGE_EVENTS)
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(types, pa.string()),
            "value": pa.array([1.25] * len(ids), pa.float64()),
            "props": pa.array([None] * len(ids), pa.string()),
        }
    )
    pq.write_table(table, d / "events.parquet")
    return str(d)


def test_sessionize_gap_boundary(spark, edge_dir):
    """A gap of exactly 30:00 continues the session; 30:00 plus one
    microsecond opens a new one."""
    from fawac_cdc_spark.catalog import load_table
    from fawac_cdc_spark.streaming.batch_equiv import sessionize

    rows = sessionize(load_table(spark, edge_dir, "events")).collect()
    got = {r["event_id"]: r["session_seq"] for r in rows}
    assert got == {e[0]: e[4] for e in _EDGE_EVENTS}


def test_session_ties_follow_event_id(spark, edge_dir):
    """Tied rows share a session number whatever their order, so the tie
    rule shows where order is consumed: in the shared transition table,
    event 11 ('view') precedes event 12 ('click') at the same ts."""
    from fawac_cdc_spark.catalog import load_table
    from fawac_cdc_spark.operators.analytics import session_transition_counts

    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in session_transition_counts(
            load_table(spark, edge_dir, "events")
        ).collect()
    }
    assert got == {
        ("click", "view"): 1,
        ("purchase", "click"): 1,
        ("view", "click"): 1,
        ("click", "purchase"): 1,
    }


@pytest.mark.parametrize(
    "name",
    [
        "session_agg_30min_gap",
        "session_transition_matrix",
        "session_path_topk",
        "session_entropy_rate",
    ],
)
def test_session_queries_match_their_oracles_at_the_edges(spark, edge_dir, name):
    """Each session query and its independent DuckDB oracle agree on the
    edge events."""
    import duckdb

    from fawac_cdc_spark.registry import all_specs
    from tools.parity import compare_frames

    spec = all_specs()[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{edge_dir}/events.parquet'"
    )
    problems = compare_frames(
        spec.fn(spark, edge_dir).toPandas(), con.execute(spec.oracle).df()
    )
    assert not problems, f"{name}: {problems}"
