#!/usr/bin/env python3
"""webxtract benchmark: one production extraction job per run, checked
against the synth goldens. See perfbench/README.md for the workloads,
the metrics and why they were chosen.

    python3 perfbench/run.py --workload snapshot_raw --seed 1 --seconds 1 --trace 0

Run from the repository root. Prints one line per metric, then one JSON
object as the last line of standard output. Exits 1 when any document
mismatches its golden, 2 when the program is not there to run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> (job mode as `webxtract.cli --mode`, docs, part files)
WORKLOADS = {
    "snapshot_raw": ("pipeline", 2000, 16),
    "extract_raw": ("extract", 6000, 16),
}
CORES = 4

E2E_UNITS = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.memory": "4g",
        "spark.ui.showConsoleProgress": "false",
        # status REST API on a random port; retention raised so a
        # window's stage/job deltas never lose evicted entries
        "spark.ui.port": "0",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "webxtract", "pipeline.py")):
        print(f"no webxtract package under {ROOT}; nothing to benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    mode, n_docs, n_parts = WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, spark-submit's launcher included: temp files in the
    # checkout, and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    try:
        return _run(args, mode, n_docs, n_parts, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, mode: str, n_docs: int, n_parts: int,
         work: str) -> int:
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from perfbench import golden, inputs, layers
    from perfbench.probes import RssSampler, SparkRest
    from perfbench.spans import Tracer

    cache = os.path.join(ROOT, ".perfbench_cache")
    snap = inputs.corpus(cache, "pages", args.seed, n_docs, n_parts)
    tracer = Tracer(enabled=bool(args.trace))
    jobs: list[dict] = []

    with RssSampler() as rss:
        t0 = time.perf_counter()
        with tracer.span("session"):
            from webxtract.schemas import PAGES_SCHEMA
            from webxtract.session import get_spark

            spark = get_spark(
                "webxtract-perfbench", master=f"local[{CORES}]",
                shuffle_partitions=CORES, extra_conf=_spark_conf(work),
            )
            spark.sparkContext.setLogLevel("ERROR")
        try:
            from webxtract.audit import run_extraction_job
            from webxtract.ops.extract import extract_pages
            from webxtract.pipeline import run_pipeline

            transform = run_pipeline if mode == "pipeline" else extract_pages

            def read(path: str):  # noqa: ANN202
                return spark.read.schema(PAGES_SCHEMA).parquet(path)

            with tracer.span("pipeline.build"):
                transform(read(snap.pages_dir))
            setup_s = time.perf_counter() - t0

            if args.trace:
                rest = SparkRest(spark.sparkContext)
                mark = rest.mark()
            t_loop = time.perf_counter()
            while not jobs or time.perf_counter() - t_loop < args.seconds:
                i = len(jobs)
                out = os.path.join(work, f"out{i}")
                start = time.perf_counter()
                with tracer.span("audit.run_extraction_job"):
                    stats = run_extraction_job(
                        read(snap.pages_dir), out, os.path.join(work, f"audit{i}"),
                        f"bench{i}", spark,
                        transform=run_pipeline if mode == "pipeline" else None,
                    )
                jobs.append({"out": out, "wall": time.perf_counter() - start,
                             "stats": stats, "audit": os.path.join(work, f"audit{i}")})

            layer_metrics, layer_bad, layer_docs = {}, [], 0
            if args.trace:
                layer_metrics, layer_bad, layer_docs = layers.trace_layers(
                    spark=spark, tracer=tracer, rest=rest, window=rest.since(mark),
                    jobs=jobs, snap=snap, mode=mode, work=work, read=read,
                    cache=cache, seed=args.seed,
                )
        finally:
            _stop(spark)

    # ---- correctness: every document of every job, outside timing
    bad: list[str] = []
    rules = mode == "pipeline"
    for i, job in enumerate(jobs):
        bad += [f"job{i} {b}" for b in golden.check(
            golden.read_output(job["out"], rules), snap.expected, rules)]
        bad += [f"job{i} {b}" for b in _check_job(job, snap)]
    bad += layer_bad
    attempted = snap.n_docs * len(jobs) + layer_docs
    failed = min(attempted, len(bad))

    wall = sum(j["wall"] for j in jobs)
    docs = sum(j["stats"]["urls"] for j in jobs)
    if args.trace:
        metrics = dict(layer_metrics)
        metrics["session.start_s"] = tracer.total("session")
        metrics["pipeline.build_cold_s"] = tracer.total("pipeline.build")
        units = layers.UNITS
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        tracer.dump(os.path.join(ROOT, ".perfbench_traces",
                                 f"{args.workload}-s{args.seed}.json"))
    else:
        metrics = {
            "setup_s": setup_s,
            "docs_per_s": docs / wall,
            "mb_per_s": snap.payload_bytes * len(jobs) / 1e6 / wall,
            "peak_rss_mb": rss.peak / 2**20,
        }
        units = E2E_UNITS
    for b in bad[:20]:
        print(f"MISMATCH {b}")
    print(f"workload {args.workload} seed {args.seed}: {len(jobs)} job(s), "
          f"{snap.n_docs} docs each, failed_frac {failed / attempted} ratio")
    for k, v in metrics.items():
        print(f"{k} {v} {units[k]}")
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 1 if bad else 0


def _stop(spark) -> None:  # noqa: ANN001
    """Stop the session and the JVM it launched, and wait for the JVM
    (and with it the Python worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _check_job(job: dict, snap) -> list[str]:  # noqa: ANN001
    """The job's returned run stats and its audit rows agree with the
    input: every doc counted once, html bytes and parse failures exact."""
    import pyarrow.dataset as ds

    s = job["stats"]
    want = {
        "urls": snap.n_docs,
        "bytes_in": snap.html_bytes,
        "parse_failures": int(snap.expected["parse_failure"].sum()),
    }
    bad = [f"run stat {k} {s[k]} != {v}" for k, v in want.items() if s[k] != v]
    audit = ds.dataset(job["audit"], format="parquet").to_table(
        columns=["url_count", "bytes_in", "parse_failures"]).to_pydict()
    got = {"urls": sum(audit["url_count"]), "bytes_in": sum(audit["bytes_in"]),
           "parse_failures": sum(audit["parse_failures"])}
    bad += [f"audit {k} {got[k]} != {v}" for k, v in want.items() if got[k] != v]
    return bad


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
