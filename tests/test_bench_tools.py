"""Unit guards for the bench adjudication tooling (no Spark needed).

The bench artifacts are round-over-round evidence; these tests pin the
r13 tooling contracts: protocol-mismatch detection in bench_diff
(ADVICE r12 — the CLI could silently diff warm vs cold walls),
zero-time anomaly reporting (a key that collapsed to ~0 s must be a
reported line, not an invisible skip).
"""

from __future__ import annotations

import json

from tools.bench_diff import movers, print_diff


def test_movers_reports_zero_time_anomalies():
    old = {"a": 2.0, "b": 0.0, "c": 1.0}
    new = {"a": 0.0, "b": 3.0, "c": 5.0}
    mv, anomalies = movers(old, new)
    # c moved 1.0 -> 5.0 (>2x, >0.5s); a and b each have a zero side
    assert [k for k, _, _ in mv] == ["c"]
    assert sorted(k for k, _, _ in anomalies) == ["a", "b"]


def test_movers_thresholds_unchanged():
    # ratio-only (2.5x but 0.3s abs) and delta-only (1.5x, 2s abs)
    # moves stay excluded — the r10/r11 hand-table thresholds
    old = {"r": 0.2, "d": 4.0}
    new = {"r": 0.5, "d": 6.0}
    mv, anomalies = movers(old, new)
    assert mv == [] and anomalies == []


def _artifact(tmp_path, name: str, protocol: str | None, queries: dict):
    d = {"value": round(sum(queries.values()), 3), "queries": queries}
    if protocol is not None:
        d["protocol"] = protocol
    p = tmp_path / name
    p.write_text(json.dumps(d))
    return str(p)


def test_print_diff_flags_protocol_mismatch(tmp_path, capsys):
    a = _artifact(tmp_path, "a.json", "cold-single-shot", {"k": 1.0})
    b = _artifact(tmp_path, "b.json", "warm-best-of-2", {"k": 1.1})
    ok = print_diff(a, b)
    assert not ok
    assert "protocol mismatch" in capsys.readouterr().out


def test_print_diff_missing_protocol_reads_as_cold(tmp_path, capsys):
    # pre-r12 artifacts carry no 'protocol' field: they are cold
    # single-shots, so they must compare cleanly against new cold runs
    a = _artifact(tmp_path, "a.json", None, {"k": 1.0})
    b = _artifact(tmp_path, "b.json", "cold-single-shot", {"k": 1.1})
    assert print_diff(a, b)
    assert "protocol mismatch" not in capsys.readouterr().out
