"""Golden check of a job's committed output against ``gen_pages``.

The output is read back with pyarrow straight from the committed
parquet files, outside every timed region and without Spark, so the
check neither costs engine time nor shares a reader with the program.
"""

from __future__ import annotations

import math

import pandas as pd
import pyarrow.dataset as ds

from webxtract.schemas import FIELD_NAMES

EXTRACT_COLS = ["extracted_text", "source_kind", "parse_failure"]
RULE_COLS = [*FIELD_NAMES, "doc_type", "fake_detection"]


def _norm(v):  # noqa: ANN001, ANN202
    """NaN (pandas' missing float) and None are the same absence."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return v


def _expected_row(e: dict, rules: bool) -> dict:
    want = {c: _norm(e[c]) for c in EXTRACT_COLS}
    want["parse_failure"] = bool(want["parse_failure"])
    if rules:
        for f in FIELD_NAMES:
            want[f] = _norm(e[f])
        # gen_pages plants a type on ID-document pages only; every
        # other page (articles, pdf, text, malformed) detects "unknown"
        want["document_type"] = _norm(e["expected_doc_type"]) or "unknown"
        want["is_fake"] = bool(e["is_fake_doc"])
    return want


def _got_row(g: dict, rules: bool) -> dict:
    got = {c: _norm(g[c]) for c in EXTRACT_COLS}
    if rules:
        for f in FIELD_NAMES:
            got[f] = _norm(g[f])
        got["document_type"] = (g["doc_type"] or {}).get("document_type")
        got["is_fake"] = (g["fake_detection"] or {}).get("is_fake")
    return got


def read_output(path: str, rules: bool) -> list[dict]:
    cols = ["url", *EXTRACT_COLS, *(RULE_COLS if rules else [])]
    return ds.dataset(path, format="parquet").to_table(columns=cols).to_pylist()


def check(rows: list[dict], expected: pd.DataFrame, rules: bool) -> list[str]:
    """Mismatch descriptions, one per failed url: missing from the
    output, duplicated, unexpected, or any compared column not equal
    (``extracted_text`` byte-for-byte). Empty when every doc matches."""
    by_url: dict[str, list[dict]] = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    bad: list[str] = []
    for e in expected.to_dict("records"):
        url = e["url"]
        got = by_url.pop(url, [])
        if len(got) != 1:
            bad.append(f"{url}: {len(got)} output rows")
            continue
        want, have = _expected_row(e, rules), _got_row(got[0], rules)
        diff = [k for k in want if want[k] != have[k]]
        if diff:
            k = diff[0]
            bad.append(f"{url}: {k} {have[k]!r} != {want[k]!r}")
    bad.extend(f"{url}: not in the input" for url in by_url)
    return bad
