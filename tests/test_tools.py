"""Unit gates for tooling records: bench.py's stdout line must fit the
tail capture, tools/parity_last.json must cover the registry, and
tools/parity.py's record writer must merge scales and refuse toy
runs."""

from __future__ import annotations

import json
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_stdout_line_fits_driver_tail_capture():
    """Callers record only the tail of bench.py's stdout (~2000 chars), so
    the one JSON line must carry exactly {metric, value, unit, queries, sf}
    and stay well under the capture window even with worst-case float
    widths."""
    import bench

    record = bench.compact_record({name: 99999.999 for name in bench.HEADLINE}, "0.1")
    assert set(record) == {"metric", "value", "unit", "queries", "sf"}
    line = json.dumps(record)
    assert len(line) < 1800, f"bench line too long: {len(line)} chars"
    src = open(os.path.join(_REPO, "bench.py")).read()
    assert src.rstrip().endswith("main()")


def test_every_registered_query_is_swept_or_pending():
    """Sweep-metadata guard (VERDICT r7 item 6): every registered query
    name must appear in the last green full-registry parity sweep record
    (tools/parity_last.json) or be explicitly listed in
    registry.PENDING_SWEEP.  A registration with neither is silent
    verification debt — exactly how 8 queries accumulated without any red
    signal through round 7."""
    from fawac_cdc_spark import registry

    record_path = os.path.join(_REPO, "tools", "parity_last.json")
    assert os.path.exists(record_path), (
        "no tools/parity_last.json — run a full `python tools/parity.py` "
        "sweep (it writes the record when green)"
    )
    with open(record_path) as fh:
        record = json.load(fh)
    swept = set(record["names"])
    # Scale guard (ADVICE r8 + VERDICT r8 item 4): the record must carry
    # evidence at BOTH working scales — the canonical sf0.01 oracle scale
    # and the sf0.1 bench scale.  parity.py refuses to write below sf0.01
    # and merges scales for an unchanged name-set, so a toy sf0.001 run
    # can never masquerade as sweep evidence and a name-set change resets
    # the dual-scale requirement.
    sf_dirs = set(record.get("sf_dirs", []))
    assert {"sf0.01", "sf0.1"} <= sf_dirs, (
        f"sweep record scales {sorted(sf_dirs)} — need green full sweeps "
        "at BOTH sf0.01 and sf0.1 on the current name-set"
    )
    registered = set(registry.queries())
    unswept = registered - swept - set(registry.PENDING_SWEEP)
    assert not unswept, (
        f"registered but neither swept nor PENDING_SWEEP: {sorted(unswept)} "
        "— run tools/parity.py or add to registry.PENDING_SWEEP"
    )
    # stale pendings: once swept, a name must leave PENDING_SWEEP
    stale = set(registry.PENDING_SWEEP) & swept
    assert not stale, f"PENDING_SWEEP entries already swept: {sorted(stale)}"
    # and the record must not reference queries that no longer exist
    ghosts = swept - registered
    assert not ghosts, f"sweep record names not in registry: {sorted(ghosts)}"


def test_sweep_record_merges_scales_and_refuses_toy_runs(tmp_path):
    """update_sweep_record semantics (ADVICE r8): sub-sf0.01 runs are
    refused; same-name-set sweeps at new scales MERGE into sf_dirs; a
    name-set change resets the accumulated scales."""
    from tools.parity import update_sweep_record

    path = str(tmp_path / "parity_last.json")
    names = ["a", "b"]
    # toy scale refused, nothing written
    assert update_sweep_record(path, "/data/sf0.001", names) is False
    assert not os.path.exists(path)
    # first real record
    assert update_sweep_record(path, "/data/sf0.01", names) is True
    rec = json.load(open(path))
    assert rec["sf_dirs"] == ["sf0.01"] and rec["names"] == names
    # second scale merges
    assert update_sweep_record(path, "/data/sf0.1", names) is True
    rec = json.load(open(path))
    assert rec["sf_dirs"] == ["sf0.01", "sf0.1"]
    # name-set change resets scales
    assert update_sweep_record(path, "/data/sf0.01", ["a", "b", "c"]) is True
    rec = json.load(open(path))
    assert rec["sf_dirs"] == ["sf0.01"] and rec["total"] == 3
    # ADVICE r9: an UNPARSEABLE dir name errors loudly instead of being
    # silently refused as a toy run (real evidence must not be discarded)
    with pytest.raises(ValueError, match="cannot parse a scale factor"):
        update_sweep_record(path, "/data/sf0.1-v2", names)
    rec = json.load(open(path))
    assert rec["total"] == 3  # record untouched by the failed call
