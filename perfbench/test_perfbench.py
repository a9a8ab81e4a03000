"""The benchmark's own tests (no Spark session needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

from perfbench import golden, inputs, layers, run
from perfbench.probes import tree_rss_bytes
from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows_from_expected(expected):  # noqa: ANN001, ANN202
    """What a correct pipeline-mode job writes, per golden.check."""
    rows = []
    for e in expected.to_dict("records"):
        r = {c: e[c] for c in golden.EXTRACT_COLS}
        r["url"] = e["url"]
        for f in golden.FIELD_NAMES:
            r[f] = e[f]
        r["doc_type"] = {"document_type": e["expected_doc_type"] or "unknown"}
        r["fake_detection"] = {"is_fake": bool(e["is_fake_doc"])}
        rows.append(r)
    return rows


def test_inputs_deterministic_per_seed(tmp_path):
    a = inputs.corpus(str(tmp_path / "a"), "pages", 3, 60, 4)
    b = inputs.corpus(str(tmp_path / "b"), "pages", 3, 60, 4)
    c = inputs.corpus(str(tmp_path / "c"), "pages", 4, 60, 4)
    assert a.expected.equals(b.expected)
    assert (a.payload_bytes, a.html_bytes) == (b.payload_bytes, b.html_bytes)
    parts = sorted(os.listdir(a.pages_dir))
    assert len(parts) == 4 and parts == sorted(os.listdir(b.pages_dir))
    for p in parts:
        ta = pq.read_table(os.path.join(a.pages_dir, p))
        tb = pq.read_table(os.path.join(b.pages_dir, p))
        assert ta.equals(tb) and ta.schema == inputs.PAGES_ARROW
    assert not a.expected.equals(c.expected)
    # a second call is served from the cache, unchanged
    again = inputs.corpus(str(tmp_path / "a"), "pages", 3, 60, 4)
    assert again.expected.equals(a.expected)


def test_golden_check_accepts_exact_output_and_flags_each_defect(tmp_path):
    snap = inputs.corpus(str(tmp_path), "pages", 5, 80, 2)
    exp = snap.expected
    rows = _rows_from_expected(exp)
    assert golden.check(rows, exp, rules=True) == []

    recs = exp.to_dict("records")
    id_i = next(i for i, e in enumerate(recs) if e["expected_doc_type"])
    text_i = next(i for i, e in enumerate(recs)
                  if e["extracted_text"] and not e["expected_doc_type"])
    dup_i = next(i for i in range(len(rows)) if i not in (id_i, text_i))
    assert max(id_i, text_i, dup_i) < len(rows) - 1
    broken = [dict(r) for r in rows]
    broken[text_i]["extracted_text"] += " "              # one byte off
    broken[id_i]["doc_type"] = {"document_type": "unknown"}
    broken.pop()                                          # missing url
    broken.append(dict(rows[dup_i]))                      # duplicated url
    bad = golden.check(broken, exp, rules=True)
    assert len(bad) == 4, bad
    assert any("extracted_text" in b for b in bad)
    assert any("document_type" in b for b in bad)
    # extract mode compares only the extraction columns
    assert golden.check(
        [{k: r[k] for k in ["url", *golden.EXTRACT_COLS]} for r in rows],
        exp, rules=False) == []


def test_self_time_excludes_children():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        time.sleep(0.02)
        with tr.span("a"):
            time.sleep(0.03)
        with tr.span("b"):
            time.sleep(0.03)
    outer = tr.total("outer")
    assert tr.self_time("outer") == pytest.approx(
        outer - tr.total("a") - tr.total("b"))
    assert 0.015 < tr.self_time("outer") < outer - 0.05
    ids = {sp.trace_id for sp in tr.spans}
    assert len(ids) == 1
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_output_names_every_benchmark_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.UNITS


def test_tree_rss_counts_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        deadline = time.time() + 5
        while tree_rss_bytes(os.getpid()) == 0 and time.time() < deadline:
            time.sleep(0.05)
        assert tree_rss_bytes(os.getpid()) > 1 << 20
    finally:
        child.kill()
        child.wait(timeout=5)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_raw",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
