"""Traced run (``--trace 1``): time attributed to each layer.

Spans are taken from this directory's own code, around calls into each
layer's public functions; nothing inside the program is changed.

1. Untraced session: set-up, then whole passes for half of ``--seconds``.
2. Traced session in the same JVM, with the Spark event log on: warm-up,
   whole passes for half of ``--seconds`` with ``ManifestStore.commit_split``
   and ``IcebergLayoutTable.commit_snapshot`` timed, then the prefix runs
   ``salted_repartition -> noop`` and ``extract . salted_repartition ->
   noop``, the current snapshot's ``read().count()``, and a short
   ``stream_extract_to_table`` drain of this workload's first docs (for
   ``stream_ingest`` the timed passes are drains already).
3. A second untraced session like the traced one: warm-up, then passes
   for half of ``--seconds``.  Passes keep getting faster as the JVM
   compiles more of the job, so ``trace.overhead_share`` compares the
   traced passes with the mean of the untraced passes before and after.
4. ``core`` timed single-process on seeded samples.
5. The event log, read after the traced session stops, attributes task
   time, GC, shuffle bytes and failures to the phases by their windows.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from typing import Dict, List, Tuple

import eventlog
import workloads

PARSE_MIN_S = 0.02       # time each format's parses for at least this long
STREAM_PROBE_FILES = 16  # two micro-batches for the batch workloads


@contextlib.contextmanager
def timed(cls, name: str, sink: List[float]):
    """Record the wall time (ms) of every call to ``cls.name``."""
    orig = getattr(cls, name)

    def wrapper(*args, **kwargs):
        t = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            sink.append((time.perf_counter() - t) * 1000.0)

    setattr(cls, name, wrapper)
    try:
        yield
    finally:
        setattr(cls, name, orig)


def _window(fn) -> Tuple[float, float]:
    t = time.time()
    fn()
    return t, time.time()


# --------------------------------------------------------------------- core


def core_metrics(df, seed: int) -> Dict[str, float]:
    from machine_readability_checker_spark.core.checks import run_checks
    from machine_readability_checker_spark.core.extract import extract_document
    from machine_readability_checker_spark.core.grid import (
        GRID_FORMATS,
        parse_document,
    )
    from machine_readability_checker_spark.core.zones import extract_zones

    out: Dict[str, float] = {}
    probe = workloads.format_probe(seed)
    for fmt, rows in sorted(probe.groupby("fmt")):
        blobs = [bytes(c) for c in rows["content"]]
        for b in blobs:          # first call imports the parser module
            parse_document(fmt, b)
        per_call, spent = [], 0.0
        while spent < PARSE_MIN_S or len(per_call) < 5:
            for b in blobs:
                t = time.perf_counter()
                parse_document(fmt, b)
                dt = time.perf_counter() - t
                per_call.append(dt * 1000.0)
                spent += dt
        out[f"core.parse_ms.{fmt}"] = statistics.median(per_call)

    extract_ms, zones_ms, checks_ms = [], [], []
    for r in workloads.sample(df, seed).itertuples(index=False):
        hints = dict(
            header_start_row=int(r.header_start_row),
            header_end_row=int(r.header_end_row),
            data_start_row=int(r.data_start_row),
            data_end_row=int(r.data_end_row),
        )
        content = bytes(r.content)
        t = time.perf_counter()
        extract_document(r.doc_id, r.fmt, content, sheet_idx=int(r.sheet_idx),
                         **hints)
        extract_ms.append((time.perf_counter() - t) * 1000.0)
        doc = parse_document(r.fmt, content)
        if doc.parse_error is not None or doc.fmt not in GRID_FORMATS or not doc.sheets:
            continue
        main = int(r.sheet_idx) if 0 <= int(r.sheet_idx) < len(doc.sheets) else 0
        main_ctx = None
        for i, sheet in enumerate(doc.sheets):
            t = time.perf_counter()
            ctx = extract_zones(sheet.rows, sheet.name, **hints)
            zones_ms.append((time.perf_counter() - t) * 1000.0)
            if i == main:
                main_ctx = ctx
        t = time.perf_counter()
        run_checks(doc, main_ctx, sheet_idx=main)
        checks_ms.append((time.perf_counter() - t) * 1000.0)
    out["core.extract_ms_mean"] = statistics.fmean(extract_ms)
    out["core.zones_ms_per_sheet"] = statistics.fmean(zones_ms)
    out["core.checks_ms_per_doc"] = statistics.fmean(checks_ms)
    return out


# -------------------------------------------------------------------- spark


def _kernel_busy_s(p) -> float:
    """Σ of the committed output's own metrics.wall_ms, in seconds."""
    import pyarrow.dataset as ds

    tbl = ds.dataset(os.path.join(p.root, "data"), format="parquet",
                     partitioning="hive").to_table(columns=["metrics"])
    return sum(m["wall_ms"] or 0.0 for m in tbl.column("metrics").to_pylist()) / 1000.0


def spark_metrics(log_dir: str, windows: Dict[str, Tuple[float, float]]
                  ) -> Dict[str, float]:
    stages = eventlog.read_stages(log_dir)
    job = eventlog.tasks_of(eventlog.in_window(stages, *windows["job"]))
    rep_stages = eventlog.in_window(stages, *windows["repartition"])
    shuffle_written = sum(t.shuffle_write_bytes for t in eventlog.tasks_of(rep_stages))
    reads = [
        t.shuffle_read_bytes for s in rep_stages
        if any(t.shuffle_read_bytes for t in s.tasks) for t in s.tasks
    ]
    kernel = [
        t for s in eventlog.in_window(stages, *windows["extract"])
        if "MapInPandas" in s.scopes for t in s.tasks
    ]
    run_s = [t.run_ms / 1000.0 for t in kernel]
    return {
        "repartition.shuffle_bytes": float(shuffle_written),
        "repartition.part_bytes_max_over_mean":
            max(reads) / statistics.fmean(reads),
        "extract.task_busy_s": sum(run_s),
        "extract.task_s_max": max(run_s),
        "extract.task_s_p50": statistics.median(run_s),
        "spark.gc_s": sum(t.gc_ms for t in job) / 1000.0,
        "spark.tasks": float(len(job)),
        "spark.task_failures": float(
            sum(t.failed for t in eventlog.tasks_of(stages.values()))
        ),
    }


# ------------------------------------------------------------------- driver


def traced_run(bench, gen_s: float):
    """Run the traced phases on ``bench`` (a run.Bench with its input
    generated); returns (check errors, attempted, failed, per-layer
    metrics)."""
    from machine_readability_checker_spark.model import RAW_SCHEMA
    from machine_readability_checker_spark.operators.extract import extract
    from machine_readability_checker_spark.operators.repartition import (
        salted_repartition,
    )
    from machine_readability_checker_spark.plans.manifest import ManifestStore
    from machine_readability_checker_spark.sources.iceberg_table import (
        IcebergLayoutTable,
    )

    half = bench.seconds / 2.0
    bench.setup(gen_s)
    before, checks = bench.measure(half, "untraced")
    bench.stop_session()

    log_dir = bench.path("eventlog")
    bench.start_session(event_log=log_dir)
    if not bench.stream:
        bench.prepare(bench.df)
    bench.warm_up()
    commit_ms: List[float] = []
    windows: Dict[str, Tuple[float, float]] = {}
    t0 = time.time()
    with timed(ManifestStore, "commit_split", commit_ms):
        traced, traced_checks = bench.measure(half, "traced")
    windows["job"] = (t0, time.time())
    checks += traced_checks
    last = traced[-1]
    errors = [e for c in checks for e in c.errors] + bench.check_oracle(last)

    spark = bench.spark
    raw = (spark.read.schema(RAW_SCHEMA).parquet(bench.land) if bench.stream
           else bench.raw)
    windows["repartition"] = _window(
        lambda: salted_repartition(raw, bench.n_parts)
        .write.format("noop").mode("overwrite").save()
    )
    windows["extract"] = _window(
        lambda: extract(salted_repartition(raw, bench.n_parts))
        .write.format("noop").mode("overwrite").save()
    )
    rep_s = windows["repartition"][1] - windows["repartition"][0]
    ext_s = windows["extract"][1] - windows["extract"][0]

    table = IcebergLayoutTable(last.root)
    version = int(table.current_snapshot()["version"])
    t = time.perf_counter()
    table_docs = table.read(spark, version=version).count()
    iceberg_read_s = time.perf_counter() - t
    if table_docs != bench.n_docs:
        errors.append(f"snapshot read-back has {table_docs} docs of {bench.n_docs}")

    if bench.stream:
        drains = traced
    else:
        n = STREAM_PROBE_FILES * workloads.STREAM_DOCS_PER_FILE
        land = bench.land_files(bench.df.head(n), bench.fresh("probe-land"))
        drains = [bench.stream_drain(land, bench.fresh("probe-stream"))]
        if drains[0].docs != n:
            errors.append(f"stream probe committed {drains[0].docs} docs of {n}")

    kernel_busy = _kernel_busy_s(last)
    bench.stop_session()     # closes the event log

    bench.start_session()
    if not bench.stream:
        bench.prepare(bench.df)
    bench.warm_up()
    after, after_checks = bench.measure(half, "untraced")
    checks += after_checks
    errors += [e for c in after_checks for e in c.errors]

    m = spark_metrics(log_dir, windows)
    m.update(core_metrics(bench.df, bench.seed))
    traced_dps = statistics.median(p.docs_per_s for p in traced)
    untraced_dps = statistics.fmean([before[-1].docs_per_s, after[0].docs_per_s])
    attempted = bench.n_docs * (len(before) + len(traced) + len(after))
    failed = sum(c.failed_docs for c in checks)
    m.update({
        "repartition.wall_s": rep_s,
        "extract.wall_s": ext_s - rep_s,
        "extract.kernel_busy_s": kernel_busy,
        "extract.overhead_share": 1.0 - kernel_busy / m["extract.task_busy_s"],
        "manifest.sink_s": statistics.median(p.wall_s for p in traced) - ext_s,
        "manifest.commit_ms_p50": statistics.median(commit_ms),
        "manifest.waves": statistics.median(p.batches for p in traced),
        "manifest.files_written": float(traced_checks[-1].files),
        "iceberg.commit_snapshot_ms_p50":
            statistics.median(x for p in traced for x in p.snapshot_ms),
        "iceberg.read_s": iceberg_read_s,
        "stream.batches": statistics.median(p.batches for p in drains),
        "stream.docs_per_batch":
            sum(p.docs for p in drains) / sum(p.batches for p in drains),
        "stream.first_commit_s": statistics.median(p.first_commit_s for p in drains),
        "trace.overhead_share": 1.0 - traced_dps / untraced_dps,
        "failed_docs_ratio": failed / attempted,
    })
    return errors, attempted, failed, dict(sorted(m.items()))
