"""Per-layer probes of the traced run (``--trace 1``).

Each probe calls a module's public functions from outside the program,
inside a span, and reads engine-side counts from Spark's status REST
API. The production job itself ran earlier, untraced inside its wall;
its REST window gives the audit and executor figures here.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import golden, inputs
from perfbench.probes import job_wall_s, sql_node_rows, stream_progress

DROP_FILES = 20  # streaming probe: drop files, over maxFilesPerTrigger=16
DROP_DOCS = 12   # docs per drop file

UNITS = {
    "session.start_s": "s",
    "pipeline.build_cold_s": "s",
    "pipeline.build_warm_s": "s",
    "pipeline.plan_s": "s",
    "extract.job_s": "s",
    "extract.docs_per_s": "docs/s",
    "extract.python_rows": "count",
    "extract.scan_rows_per_doc": "rows/doc",
    "extract.rows.text": "count",
    "extract.rows.html": "count",
    "extract.rows.pdf": "count",
    "extract.rows.pdf_ocr": "count",
    "extract.rows.none": "count",
    "fields.s": "s",
    "detect_type.s": "s",
    "fake.s": "s",
    "validators.s": "s",
    "audit.shuffle_write_mb": "MB",
    "audit.exchange_skew": "ratio",
    "audit.write_s": "s",
    "audit.rollup_s": "s",
    "audit.resume_filter_s": "s",
    "executor.cpu_core_s": "core-s",
    "executor.gc_s": "s",
    "executor.busy_frac": "ratio",
    "streaming.query_planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.files_per_batch": "count",
    "streaming.batches": "count",
    "bench.tracing_overhead_frac": "ratio",
}


def _force(df) -> None:  # noqa: ANN001
    """Materialize every column of ``df`` into the cache."""
    df.persist()
    df.count()


def _job_window(window: dict, jobs: list[dict]) -> dict[str, float]:
    """Audit and executor figures of the production job(s)."""
    groups = {f"webxtract-write-bench{i}" for i in range(len(jobs))}
    write_jobs = [j for j in window["jobs"] if j.get("jobGroup") in groups]
    write_stage_ids = {sid for j in write_jobs for sid in j["stageIds"]}
    write_stages = [s for s in window["stages"] if s["stageId"] in write_stage_ids]
    wall = sum(j["wall"] for j in jobs)
    return {
        "audit.write_s": job_wall_s(write_jobs),
        "audit.rollup_s": job_wall_s(
            [j for j in window["jobs"] if j.get("jobGroup") not in groups]),
        "audit.shuffle_write_mb": sum(
            s["shuffleWriteBytes"] for s in write_stages) / 1e6,
        "executor.cpu_core_s": sum(
            s["executorCpuTime"] for s in window["stages"]) / 1e9,
        "executor.gc_s": window["gc_s"],
        "executor.busy_frac": window["task_s"] / (window["cores"] * wall),
    }


def _skew(rest, window: dict) -> float:  # noqa: ANN001
    """max / median shuffle records per reduce task, on the stage of the
    window that read the most shuffle records (the salted url exchange
    in pipeline mode, the audit aggregation in extract mode)."""
    readers = [s for s in window["stages"] if s["shuffleReadRecords"] > 0]
    stage = max(readers, key=lambda s: s["shuffleReadRecords"])
    recs = [r for r in rest.task_records(stage) if r > 0]
    return max(recs) / statistics.median(recs)


def trace_layers(*, spark, tracer, rest, window, jobs, snap, mode, work,  # noqa: ANN001, PLR0913
                 read, cache, seed) -> tuple[dict, list[str], int]:
    """Per-layer metrics, mismatch descriptions, and the number of
    documents whose output the probes checked."""
    from pyspark.sql import functions as F

    from webxtract.audit import resume_filter
    from webxtract.config import DEFAULT_MINIMUM_AGE, DEFAULT_RUN_DATE
    from webxtract.ops.detect_type import with_doc_type
    from webxtract.ops.extract import extract_pages
    from webxtract.ops.fake import with_fake_detection
    from webxtract.ops.fields import with_fields
    from webxtract.ops.validators import (
        doc_type_enum_expr,
        validation_results_expr,
        validation_summary_expr,
        with_parsed_dates,
    )
    from webxtract.pipeline import run_pipeline
    from webxtract.streaming import start_extraction_stream

    transform = run_pipeline if mode == "pipeline" else extract_pages
    m = _job_window(window, jobs)
    m["audit.exchange_skew"] = _skew(rest, window)
    bad: list[str] = []
    checked = 0

    # ---- pipeline: warm rebuild (plan cache hit in pipeline mode), plan
    with tracer.span("pipeline.build_warm"):
        df = transform(read(snap.pages_dir))
    with tracer.span("pipeline.plan"):
        df._jdf.queryExecution().executedPlan()
    m["pipeline.build_warm_s"] = tracer.total("pipeline.build_warm")
    m["pipeline.plan_s"] = tracer.total("pipeline.plan")

    # ---- audit: resume filter against the committed output -> nothing left
    with tracer.span("audit.resume_filter"):
        left = resume_filter(read(snap.pages_dir), jobs[0]["out"], spark).count()
    m["audit.resume_filter_s"] = tracer.total("audit.resume_filter")
    if left:
        bad.append(f"resume_filter left {left} committed urls")

    # ---- ops.extract, forced alone over the snapshot input
    mark = rest.mark()
    with tracer.span("extract"):
        ext = extract_pages(read(snap.pages_dir))
        _force(ext)
    win = rest.since(mark)
    m["extract.job_s"] = tracer.total("extract")
    m["extract.docs_per_s"] = snap.n_docs / m["extract.job_s"]
    m["extract.python_rows"] = sql_node_rows(win["sql"], "InPandas")
    m["extract.scan_rows_per_doc"] = sum(
        s["inputRecords"] for s in win["stages"]) / snap.n_docs
    kinds = {r["source_kind"]: r["count"] for r in
             ext.groupBy("source_kind").count().collect()}
    want = snap.expected["source_kind"].value_counts().to_dict()
    for kind in ("text", "html", "pdf", "pdf_ocr", "none"):
        m[f"extract.rows.{kind}"] = kinds.get(kind, 0)
        if kinds.get(kind, 0) != want.get(kind, 0):
            bad.append(f"extract rows {kind} {kinds.get(kind, 0)} != {want.get(kind, 0)}")

    # ---- rule layer, forced step by step in pipeline order; each step
    # reads the previous step's cached output, so its self time is its
    # own expressions (the Column construction is a child span)
    run_date = F.to_date(F.lit(DEFAULT_RUN_DATE))
    prev = ext

    def step(name: str, build) -> None:  # noqa: ANN001
        nonlocal prev
        with tracer.span(name):
            with tracer.span(name + ".build"):
                nxt = build(prev)
            _force(nxt)
        prev.unpersist()
        prev = nxt

    step("fields", with_fields)
    step("detect_type", with_doc_type)
    step("fake", lambda d: with_fake_detection(d, raw_text_col="extracted_text"))

    def validators(d):  # noqa: ANN001, ANN202
        d = with_parsed_dates(
            d.withColumn("doc_type_enum", doc_type_enum_expr(F.col("doc_type.document_type"))))
        d = d.withColumn("validation_results", validation_results_expr(
            F.col("doc_type_enum"), run_date, DEFAULT_MINIMUM_AGE))
        return d.withColumn("validation_summary",
                            validation_summary_expr(F.col("validation_results")))

    step("validators", validators)
    prev.unpersist()
    for name in ("fields", "detect_type", "fake", "validators"):
        m[f"{name}.s"] = tracer.self_time(name)

    # ---- streaming: pre-written drops, one available-now extraction
    # stream (a pipeline-stream micro-batch costs ~45 s, too long for a run)
    drops = inputs.corpus(cache, "drops", seed, DROP_FILES * DROP_DOCS, DROP_FILES)
    checked += drops.n_docs
    out = os.path.join(work, "stream-out")
    with tracer.span("streaming"):
        q = start_extraction_stream(spark, drops.pages_dir, out,
                                    os.path.join(work, "stream-ckpt"))
        q.awaitTermination()
    prog = stream_progress(q)
    m["streaming.batches"] = prog["batches"]
    m["streaming.files_per_batch"] = DROP_FILES / prog["batches"]
    m["streaming.query_planning_ms"] = statistics.median(prog["query_planning_ms"])
    m["streaming.add_batch_ms"] = statistics.median(prog["add_batch_ms"])
    bad += [f"stream {b}" for b in
            golden.check(golden.read_output(out, False), drops.expected, False)]

    # ---- the tracer's own cost over the production job(s)
    probe = type(tracer)(enabled=True)
    t = time.perf_counter()
    for _ in range(1000):
        with probe.span("x"):
            pass
    per_span = (time.perf_counter() - t) / 1000
    n_spans = sum(1 for sp in tracer.spans if sp.name == "audit.run_extraction_job")
    m["bench.tracing_overhead_frac"] = n_spans * per_span / sum(j["wall"] for j in jobs)
    return m, bad, checked
