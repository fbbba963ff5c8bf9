"""Benchmark of record for the extraction pipeline.

    python3 perfbench/run.py --workload mixed_formats --seed 3 --seconds 5 --trace 0

Runs the batch job exactly as ``jobs/extract.py`` wires it
(salted_repartition -> extract -> run_resumable, one Iceberg-layout
snapshot per wave, lineage_table at the end), or, for ``stream_ingest``,
``stream_extract_to_table`` over landed 8-doc parquet files.  One Spark
session at ``local[SPARK_GRAFT_CPUS or nproc]``.

A run: input generation and its pin check, set-up (session start,
handing the input to the program three times, a warm-up), then whole
passes of the job over the same input until ``--seconds`` have elapsed
(at least one), each in a fresh output directory.  Every pass is checked (committed docs and the
current snapshot's total_docs equal the input; the committed doc ids are
exactly the input ids); the last pass's spans for a seeded sample must
equal the ``core.extract.extract_document`` oracle.  The last stdout
line is one JSON object: ``correct``, ``attempted`` (docs fed to checked
passes), ``failed`` (docs missing or quarantined), and the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics (see layers.py).
A failed check prints the result with ``correct: false`` and exits 1.

Everything the run writes stays under ``.perfbench_work/`` in the
current directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import workloads  # noqa: E402

N_SPLITS = 16      # jobs/extract.py --splits default
WAVE_SIZE = 4      # jobs/extract.py --wave default
SETUP_REPS = 3
STREAM_WARM_FILES = 24  # three micro-batches
DRIVER_MEMORY = "2g"
RUN_LIMIT_S = 130  # a hung run (JVM, stream query) fails instead of waiting


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env else len(os.sched_getaffinity(0))


def pct(values: List[float], q: float) -> float:
    """Inclusive-method percentile ``q`` (0-100) of ``values``."""
    vals = sorted(values)
    if len(vals) == 1:
        return vals[0]
    return statistics.quantiles(vals, n=100, method="inclusive")[int(q) - 1]


# ---------------------------------------------------------------- processes


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> List[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def py_worker_peak_rss_mb() -> float:
    """Largest VmHWM over the PySpark daemon and its forked workers."""
    peak = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark" not in cmd or b"java" in cmd.split(b"\0")[0]:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


# ------------------------------------------------------------------ records


@dataclass
class Pass:
    """One timed job pass (batch) or drain (stream)."""
    root: str
    wall_s: float                 # start -> last commit
    docs: int                     # docs committed
    gaps_s: List[float]           # between consecutive commit points
    snapshot_ms: List[float] = field(default_factory=list)
    first_commit_s: float = 0.0
    batches: int = 0

    @property
    def docs_per_s(self) -> float:
        return self.docs / self.wall_s


@dataclass
class Check:
    errors: List[str]
    failed_docs: int
    out_bytes: int
    files: int


# ------------------------------------------------------------------- bench


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, work: str, df):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.df = df         # the generated docs_raw rows
        self.ids = set(df["doc_id"])
        self.n_docs = len(df)
        self.cores = cores()
        self.n_parts = max(8, self.cores)
        self.stream = workload == "stream_ingest"
        self.spark = None
        self.raw = None      # batch input DataFrame
        self.land = None     # stream landing directory
        self._seq = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, prefix: str) -> str:
        self._seq += 1
        return self.path(f"{prefix}-{self._seq}")

    # -- session ---------------------------------------------------------

    def start_session(self, event_log: Optional[str] = None) -> float:
        from machine_readability_checker_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # no hsperfdata file under /tmp; JVM temp files in the work dir
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.path('tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        # app name and core wiring as jobs/extract.py
        self.spark = get_spark(
            "mrc-extract-job",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.n_parts,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, the JVM and every Python worker; wait for each."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        procs = descendants(os.getpid())
        if self.spark is not None:
            self.stop_session()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                try:
                    proc.stdin.close()
                    proc.wait(timeout=15)
                except Exception:  # JVM did not leave on its own
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 10
        while time.time() < deadline and any(_alive(p) for p in procs):
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass

    # -- input -------------------------------------------------------------

    def prepare(self, df) -> None:
        """Hand the generated rows to the program: a DataFrame for the
        batch job (as jobs/extract.py --gen), landed files for the stream."""
        from machine_readability_checker_spark.model import RAW_SCHEMA

        if self.stream:
            self.land = self.land_files(df, self.fresh("land"))
        else:
            self.raw = self.spark.createDataFrame(df, schema=RAW_SCHEMA)

    def land_files(self, df, target: str) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema(
            [("doc_id", pa.string()), ("fmt", pa.string()),
             ("content", pa.binary()), ("n_bytes", pa.int64())]
            + [(c, pa.int32()) for c in workloads.HINT_COLS]
        )
        os.makedirs(target)
        cols = [f.name for f in schema]
        step = workloads.STREAM_DOCS_PER_FILE
        for i in range(0, len(df), step):
            part = df.iloc[i:i + step][cols].reset_index(drop=True)
            pq.write_table(
                pa.Table.from_pandas(part, schema=schema, preserve_index=False),
                os.path.join(target, f"part-{i // step:05d}.parquet"),
            )
        return target

    # -- one pass ----------------------------------------------------------

    def batch_pass(self, raw, root: str) -> Pass:
        from machine_readability_checker_spark.operators.extract import (
            extract,
            lineage_table,
        )
        from machine_readability_checker_spark.operators.repartition import (
            salted_repartition,
            split_id,
        )
        from machine_readability_checker_spark.plans.manifest import (
            ManifestStore,
            run_resumable,
        )
        from machine_readability_checker_spark.sources.iceberg_table import (
            IcebergLayoutTable,
        )

        store = ManifestStore(root)
        table = IcebergLayoutTable(root)
        commits: List[float] = []
        snapshot_ms: List[float] = []

        def transform(wave_df):
            balanced = salted_repartition(wave_df, self.n_parts)
            return extract(balanced).withColumn("split", split_id("doc_id", N_SPLITS))

        def on_wave_done(wave):
            t = time.perf_counter()
            table.commit_snapshot(partition_spec={"kind": "split", "n": N_SPLITS})
            done = time.perf_counter()
            snapshot_ms.append((done - t) * 1000.0)
            commits.append(done)

        t0 = time.perf_counter()
        stats = run_resumable(
            raw, store, transform, n_splits=N_SPLITS, wave_size=WAVE_SIZE,
            on_wave_done=on_wave_done,
        )
        out_df = self.spark.read.parquet(store.data_dir)
        lineage_table(out_df).write.mode("overwrite").parquet(
            os.path.join(root, "lineage")
        )
        points = [t0] + commits
        return Pass(
            root=root,
            wall_s=commits[-1] - t0,
            docs=stats["docs_processed"],
            gaps_s=[b - a for a, b in zip(points, points[1:])],
            snapshot_ms=snapshot_ms,
            batches=len(commits),
        )

    def stream_drain(self, land: str, root: str) -> Pass:
        from machine_readability_checker_spark.plans.manifest import ManifestStore
        from machine_readability_checker_spark.sources.iceberg_table import (
            IcebergLayoutTable,
        )
        from machine_readability_checker_spark.streaming.stream_extract import (
            stream_extract_to_table,
        )

        t0 = time.time()
        query = stream_extract_to_table(self.spark, land, root, root + ".ckpt")
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream query failed: {query.exception()}")
        store = ManifestStore(root)
        manifests = [store.read_manifest(s) for s in store.committed_splits()]
        commits = sorted(m["committed_at"] for m in manifests)
        t = time.perf_counter()
        IcebergLayoutTable(root).commit_snapshot(
            partition_spec={"kind": "stream_batch"}
        )
        snapshot_ms = [(time.perf_counter() - t) * 1000.0]
        return Pass(
            root=root,
            wall_s=commits[-1] - t0,
            docs=sum(int(m["docs"]) for m in manifests),
            gaps_s=[b - a for a, b in zip(commits, commits[1:])],
            snapshot_ms=snapshot_ms,
            first_commit_s=commits[0] - t0,
            batches=len(commits),
        )

    def one_pass(self, prefix: str = "pass") -> Pass:
        root = self.fresh(prefix)
        if self.stream:
            return self.stream_drain(self.land, root)
        return self.batch_pass(self.raw, root)

    # -- set-up --------------------------------------------------------------

    def setup(self, gen_s: float) -> Dict[str, float]:
        """Set-up parts, in seconds: input generation (timed by the
        caller), session start, handing the input to the program (median
        of SETUP_REPS repetitions) and the warm-up pass."""
        session_s = self.start_session()
        prep = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            self.prepare(self.df)
            prep.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.warm_up()
        return {"gen_s": gen_s, "session_s": session_s,
                "prep_s": statistics.median(prep),
                "warm_s": time.perf_counter() - t}

    def warm_up(self) -> None:
        """Warm the job before timing it.  A batch pass's plan depends on
        the input size, and after a warm-up over a smaller or single-wave
        input the next full pass still runs 15-20% slow, so the batch
        warm-up is one whole pass over the real input.  Every micro-batch
        has the same shape, so the stream warms up on its first
        STREAM_WARM_FILES files."""
        if self.stream:
            rows = self.df.head(STREAM_WARM_FILES * workloads.STREAM_DOCS_PER_FILE)
            p = self.stream_drain(self.land_files(rows, self.fresh("warm-land")),
                                  self.fresh("warm"))
        else:
            p = self.one_pass("warm")
        shutil.rmtree(p.root, ignore_errors=True)
        shutil.rmtree(p.root + ".ckpt", ignore_errors=True)

    # -- checks --------------------------------------------------------------

    def check_pass(self, p: Pass) -> Check:
        import pyarrow.dataset as ds

        from machine_readability_checker_spark.plans.manifest import ManifestStore
        from machine_readability_checker_spark.sources.iceberg_table import (
            IcebergLayoutTable,
        )

        errors = []
        store = ManifestStore(p.root)
        committed = sum(
            int(store.read_manifest(s)["docs"]) for s in store.committed_splits()
        )
        snap = IcebergLayoutTable(p.root).current_snapshot() or {}
        if committed != self.n_docs or p.docs != self.n_docs:
            errors.append(f"committed {committed} docs of {self.n_docs}")
        if snap.get("total_docs") != self.n_docs:
            errors.append(
                f"snapshot total_docs {snap.get('total_docs')} != {self.n_docs}"
            )
        out = ds.dataset(store.data_dir, format="parquet", partitioning="hive")
        tbl = out.to_table(columns=["doc_id", "metrics"])
        got = tbl.column("doc_id").to_pylist()
        got_set = set(got)
        if len(got) != len(got_set):
            errors.append(f"{len(got) - len(got_set)} duplicate doc ids in output")
        if got_set - self.ids:
            errors.append(f"{len(got_set - self.ids)} unknown doc ids in output")
        missing = len(self.ids - got_set)
        quarantined = sum(
            m["parse_errors"] for m in tbl.column("metrics").to_pylist()
        )
        return Check(errors, missing + quarantined,
                     sum(os.path.getsize(f) for f in out.files), len(out.files))

    def check_oracle(self, p: Pass) -> List[str]:
        """Committed spans must equal extract_document on (kind, text,
        media_ref, offset) for every sampled doc."""
        import pyarrow.compute as pc
        import pyarrow.dataset as ds

        from machine_readability_checker_spark.core.extract import extract_document

        rows = workloads.sample(self.df, self.seed)
        out = ds.dataset(os.path.join(p.root, "data"), format="parquet",
                         partitioning="hive")
        tbl = out.to_table(columns=["doc_id", "spans"],
                           filter=pc.field("doc_id").isin(list(rows["doc_id"])))
        spark_spans = dict(zip(tbl.column("doc_id").to_pylist(),
                               tbl.column("spans").to_pylist()))
        key = lambda s: (s["kind"], s["text"], s["media_ref"], s["offset"])  # noqa: E731
        errors = []
        for r in rows.itertuples(index=False):
            want = extract_document(
                r.doc_id, r.fmt, bytes(r.content),
                header_start_row=int(r.header_start_row),
                header_end_row=int(r.header_end_row),
                data_start_row=int(r.data_start_row),
                data_end_row=int(r.data_end_row),
                sheet_idx=int(r.sheet_idx),
            )["spans"]
            got = spark_spans.get(r.doc_id)
            if got is None or [key(s) for s in got] != [key(s) for s in want]:
                errors.append(f"spans of {r.doc_id} differ from the oracle")
        return errors

    # -- timed loop ----------------------------------------------------------

    def measure(self, seconds: float, prefix: str = "pass"):
        """Whole passes until ``seconds`` have elapsed (at least one).
        Returns the passes and their checks; only the last pass's output
        stays on disk, for the oracle and read-side checks."""
        passes: List[Pass] = []
        checks: List[Check] = []
        deadline = time.perf_counter() + seconds
        while True:
            p = self.one_pass(prefix)
            checks.append(self.check_pass(p))
            if passes:
                shutil.rmtree(passes[-1].root, ignore_errors=True)
                shutil.rmtree(passes[-1].root + ".ckpt", ignore_errors=True)
            passes.append(p)
            if time.perf_counter() >= deadline:
                return passes, checks


def end_to_end(setup: Dict[str, float], passes: List[Pass],
               checks: List[Check]) -> Dict[str, Dict[str, float]]:
    gaps = [g for p in passes for g in p.gaps_s]
    return {
        "docs_per_s": statistics.median(p.docs_per_s for p in passes),
        "setup_s": sum(setup.values()),
        "batch_s_p50": pct(gaps, 50),
        "batch_s_p80": pct(gaps, 80),
        "out_bytes_per_doc": statistics.median(
            c.out_bytes / p.docs for p, c in zip(passes, checks)
        ),
        "py_worker_peak_rss_mb": py_worker_peak_rss_mb(),
    }


def log(setup: Dict[str, float], passes: List[Pass]) -> None:
    """One diagnostic line on stderr: set-up parts and every pass."""
    parts = " ".join(f"{k}={v:.2f}" for k, v in setup.items())
    walls = " ".join(f"{p.wall_s:.2f}" for p in passes)
    print(f"perfbench: setup {parts}; pass walls (s): {walls}", file=sys.stderr)


def load_units() -> Dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "machine_readability_checker_spark")):
        fail("the machine_readability_checker_spark package is not next to "
             "perfbench/: run from the root of a source checkout")
    units = load_units()

    t = time.perf_counter()
    df = workloads.generate(args.workload, args.seed)
    gen_s = time.perf_counter() - t
    mismatches = workloads.verify(args.workload, args.seed, df)
    if mismatches:
        fail("refusing to time a changed workload input: " + "; ".join(mismatches), 3)

    work = os.path.join(os.getcwd(), ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    bench = Bench(args.workload, args.seed, args.seconds, work, df)
    try:
        if args.trace:
            import layers

            errors, attempted, failed, metrics = layers.traced_run(bench, gen_s)
        else:
            setup = bench.setup(gen_s)
            passes, checks = bench.measure(args.seconds)
            log(setup, passes)
            errors = [e for c in checks for e in c.errors]
            errors += bench.check_oracle(passes[-1])
            metrics = end_to_end(setup, passes, checks)
            attempted = bench.n_docs * len(passes)
            failed = sum(c.failed_docs for c in checks)
    finally:
        signal.alarm(0)
        bench.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for e in errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    correct = not errors
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
