"""Tests of the benchmark itself: seeded inputs, the result comparator and
an end-to-end self-check of every workload on tiny inputs.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import filecmp
import os
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import checks, gen, workloads

ROOT = Path(__file__).resolve().parents[1]


def _same_files(a: Path, b: Path) -> bool:
    names = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    if names != sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file()):
        return False
    return all(filecmp.cmp(a / n, b / n, shallow=False) for n in names)


def test_inputs_depend_only_on_seed(tmp_path):
    for run, seed in (("x", 5), ("y", 5), ("z", 6)):
        gen.write_tables(str(tmp_path / run / "t"), seed, gen.TINY_TABLE_SIZES)
        gen.write_window_input(str(tmp_path / run / "w"), seed, 3, 40)
        gen.write_ingest_input(str(tmp_path / run / "i"), seed, 2, 40)
    assert _same_files(tmp_path / "x", tmp_path / "y")
    assert not _same_files(tmp_path / "x", tmp_path / "z")


def test_window_input_has_late_and_out_of_order_rows(tmp_path):
    exp = gen.write_window_input(str(tmp_path), 3, 3, 200)
    assert 0 < exp["late_groups"] <= exp["late_rows"]
    assert exp["windows"]


def test_window_check_wants_every_window_and_the_drop_count(tmp_path):
    exp = gen.write_window_input(str(tmp_path), 3, 3, 200)
    check = workloads._window_check(exp, with_span=True)
    ms = lambda v: dt.datetime.fromtimestamp(v / 1000, dt.timezone.utc)  # noqa: E731
    rows = [{"window_start": ms(s), "window_end": ms(e), "key": k, "n": n,
             "total": t, "max_amount": m, "span_ms": sp}
            for (s, e, k), (n, t, m, sp) in exp["windows"].items()]
    late = {"dropped": exp["late_rows"]}
    assert check(rows, late) is None
    assert check(rows[1:], late) is not None
    assert check([{**rows[0], "total": rows[0]["total"] + 2}, *rows[1:]], late) is not None
    assert check(rows, {"dropped": exp["late_rows"] - 1}) is not None


def test_compare_rows_is_order_insensitive_and_tolerant():
    cols = ["a", "b"]
    want = [(1, 0.1 + 0.2), (2, dt.date(2024, 1, 1))]
    got = [(dt.datetime(2024, 1, 1), 2), (0.3, 1)]
    assert checks.compare_rows(["b", "a"], got, cols, want) is None
    assert checks.compare_rows(["b", "a"], got[:1], cols, want) is not None
    assert checks.compare_rows(["b", "a"], [(0.31, 1), got[0]], cols, want) is not None


def test_knn_check_rejects_wrong_scores():
    rng = __import__("numpy").random.default_rng(0)
    vecs = rng.normal(size=(30, 8))
    unit = vecs / (vecs ** 2).sum(1, keepdims=True) ** 0.5
    cos = unit @ unit.T
    rows = []
    for s in range(30):
        order = [d for d in (-cos[s]).argsort() if d != s][:20]
        rows += [(s, int(d), round(float(cos[s, d]), 6), r + 1) for r, d in enumerate(order)]
    assert checks.check_knn_graph(rows, vecs) is None
    bad = [(s, d, sc + 0.01 if i == 0 else sc, r) for i, (s, d, sc, r) in enumerate(rows)]
    assert checks.check_knn_graph(bad, vecs) is not None


@pytest.mark.skipif(not os.path.isdir(ROOT / "kstreamjs_spark"),
                    reason="needs the kstreamjs_spark package")
def test_selfcheck_runs_every_workload():
    proc = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), "--selfcheck"],
                          capture_output=True, text=True, timeout=1200, cwd=ROOT)
    assert proc.returncode == 0, proc.stdout + proc.stderr[-4000:]
    assert "FAIL" not in proc.stdout


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in (ROOT / "perfbench").glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch",
                           "--seed", "1", "--seconds", "1", "--trace", "0"],
                          capture_output=True, text=True, timeout=120, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
