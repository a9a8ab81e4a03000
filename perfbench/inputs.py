"""Benchmark inputs and their goldens.

Every input is made by ``webxtract.synth.gen_pages`` from the run's
seed, outside any timed region, and cached on disk by (name, seed,
size) under the checkout's ``.perfbench_cache``. Pages are written as
many parquet part files with an explicit arrow schema, so scans get
real splits and an all-null column in one part never changes its type.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from webxtract.synth import gen_pages

RUN_DATE = "2026-01-15"

PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass(frozen=True)
class Corpus:
    pages_dir: str          # directory of part files (or of drop files)
    expected: pd.DataFrame  # gen_pages goldens, one row per url
    n_docs: int
    payload_bytes: int      # html bytes + UTF-8 text bytes, over all pages
    html_bytes: int         # what the job's own bytes_in counts


def _payload_bytes(pages: pd.DataFrame) -> tuple[int, int]:
    html = sum(len(h) for h in pages["html"] if h is not None)
    text = sum(len(t.encode("utf-8")) for t in pages["text"] if t is not None)
    return html + text, html


def write_parts(pages: pd.DataFrame, out_dir: str, n_parts: int) -> None:
    """Write ``pages`` as ``n_parts`` part files (fewer if there are
    fewer rows) into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    per = max(1, -(-len(pages) // n_parts))
    for i, start in enumerate(range(0, len(pages), per)):
        tbl = pa.Table.from_pandas(
            pages.iloc[start:start + per], schema=PAGES_ARROW,
            preserve_index=False,
        )
        pq.write_table(tbl, os.path.join(out_dir, f"part-{i:05d}.parquet"))


def corpus(cache_root: str, name: str, seed: int, n_docs: int,
           n_parts: int) -> Corpus:
    """The (name, seed, n_docs) corpus, generated on first use and read
    from the cache afterwards."""
    root = os.path.join(cache_root, f"{name}-s{seed}-n{n_docs}-p{n_parts}")
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        pages, expected = gen_pages(n_docs, RUN_DATE, seed=seed)
        write_parts(pages, os.path.join(tmp, "pages"), n_parts)
        expected.to_parquet(os.path.join(tmp, "expected.parquet"), index=False)
        payload, html = _payload_bytes(pages)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"payload_bytes": payload, "html_bytes": html}, fh)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
    with open(meta_path) as fh:
        meta = json.load(fh)
    expected = pd.read_parquet(os.path.join(root, "expected.parquet"))
    return Corpus(
        pages_dir=os.path.join(root, "pages"),
        expected=expected,
        n_docs=len(expected),
        payload_bytes=meta["payload_bytes"],
        html_bytes=meta["html_bytes"],
    )
