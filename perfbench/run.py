"""Closed-loop benchmark of the engine's registry queries, one workload per
run.

    python3 perfbench/run.py --workload graph_iter --seed 1 --seconds 10 --trace 0

A run is a sequence of passes, each a cold batch job: launch a JVM, start a
Spark session at ``local[4]``, read the warm-up table, submit the
workload's queries one at a time in a fixed order, stop the session and the
JVM. Each query is timed from the registry call through
``benchlib.materialize``; then, outside the timed interval, its output is
checked against its DuckDB oracle through ``tests/compare.py``. Passes
repeat until ``--seconds`` have passed and at least ``MIN_PASSES`` are
done; figures are medians over passes.

``--trace 1`` runs an untraced pass first, then alternates traced and
untraced passes; it reports the per-layer figures of the traced passes
(wrappers of public functions plus Spark's event log) and their overhead
against the later untraced ones, and writes every span once at the end.

The last line of stdout is the JSON result; the full artifact, with the
environment block, goes to ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CORES = 4
#: passes in an untraced / traced run
MIN_PASSES = 2
MIN_TRACE_PASSES = 3
MAX_PASSES = 40

sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402
import hostinfo  # noqa: E402
import inputs  # noqa: E402
from layers import Layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit, the same set for every workload
    (a query outside the run's workload reports 0)."""
    names = {
        "session.start_s": "s",
        "session.warmup_s": "s",
        "jvm.peak_rss_mb": "MB",
        "operators.call_s": "s",
        "benchlib.materialize_s": "s",
        "derive.build_s": "s",
        "derive.cost_s": "s",
        "derive.builds": "count",
        "iterative.calls": "count",
        "iterative.rounds": "count",
        "iterative.early_exits": "count",
        "iterative.s": "s",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.sched_gap_s": "s",
        "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB",
        "spark.spill_mb": "MB",
        "spark.core_util": "ratio",
        "trace.overhead_pct": "%",
    }
    for w in WORKLOADS.values():
        for q in w.queries:
            names[f"q.{q}.wall_s"] = "s"
            names[f"q.{q}.jobs"] = "count"
    return names


@dataclass
class QueryRecord:
    name: str
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    call_s: float = 0.0
    materialize_s: float = 0.0
    wall_s: float = 0.0
    cpu_s: float = 0.0
    rows: int | None = None
    error: str | None = None
    checked: bool = False
    span: int | None = None  # trace span id of a traced query


@dataclass
class PassRecord:
    index: int
    traced: bool
    start_s: float = 0.0
    warmup_s: float = 0.0
    wall_s: float = 0.0
    cpu_s: float = 0.0
    load_s: float = 0.0
    peak_rss_mb: float = 0.0
    queries: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)

    @property
    def setup_s(self) -> float:
        return self.start_s + self.warmup_s


def run_query(spark, sf_dir, name, fn, materialize, cpu, check=None, layers=None) -> QueryRecord:
    """Time one registry call plus its materialization; a raise or a failed
    check is recorded on the record, never propagated."""
    from pyspark.storagelevel import StorageLevel

    rec = QueryRecord(name)
    df, held, t1 = None, False, None
    with layers.span(name, "query") if layers is not None else contextlib.nullcontext() as qid:
        if layers is not None:
            rec.span = layers.root = qid  # root: parent of spans opened on pool threads
        rec.start = time.time()
        c0, t0 = cpu(), time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            # keep a fresh output cached across the count so the check reads
            # the rows just counted instead of recomputing them
            if check is not None and df.storageLevel == StorageLevel.NONE:
                df.persist(StorageLevel.MEMORY_AND_DISK)
                held = True
            rec.rows = materialize(df)
        except Exception as exc:  # noqa: BLE001 - a failing query costs its entry
            rec.error = f"{type(exc).__name__}: {exc}"[:300]
        t2 = time.perf_counter()
        rec.cpu_s = cpu() - c0
        rec.end = time.time()
    rec.wall_s = t2 - t0
    rec.call_s = (t1 if t1 is not None else t2) - t0
    rec.materialize_s = t2 - t1 if t1 is not None else 0.0
    if layers is not None:
        mid = rec.start + rec.call_s
        layers.record("call", "call", rec.start, mid, qid)
        layers.record("materialize", "materialize", mid, rec.end, qid)
    try:
        if check is not None and rec.error is None:
            rec.checked = True
            check(name, df)
    except Exception as exc:  # noqa: BLE001
        rec.error = f"check: {type(exc).__name__}: {exc}"[:300]
    finally:
        if held:
            df.unpersist(blocking=False)
    return rec


class Bench:
    def __init__(self, workload, sf_dir: str, seconds: float, trace: bool, run_id: str):
        self.w = workload
        self.sf_dir = sf_dir
        self.seconds = seconds
        self.trace = trace
        self.run_id = run_id
        self.layers = Layers(run_id)
        self.jvm_pid: int | None = None
        self.env: dict = {}
        self.eventlogs = WORK / "eventlog" / run_id

    # -- session ------------------------------------------------------------

    def conf(self, traced: bool) -> dict[str, str]:
        tmp = WORK / "tmp"
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if traced else "false",
        }
        if traced:
            self.eventlogs.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.dir": self.eventlogs.as_uri(),
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def cpu(self) -> float:
        return hostinfo.tree_cpu_s(self.jvm_pid)

    # -- checks -------------------------------------------------------------

    def checker(self):
        import duckdb

        import compare  # tests/compare.py
        from spark_ml_algo_lib_master_tongji_spark.oracles import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        for f in sorted(Path(self.sf_dir).glob("*.parquet")):
            con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM read_parquet('{f}')")

        def check(name, df):
            if name not in oracles:
                raise AssertionError(f"{name}: no DuckDB oracle to check against")
            compare.assert_match(df, con, oracles[name], name)

        return check

    # -- passes -------------------------------------------------------------

    def run_pass(self, index: int, traced: bool, check) -> PassRecord:
        """One cold batch job in a JVM of its own."""
        from pyspark import SparkContext

        from spark_ml_algo_lib_master_tongji_spark import benchlib
        from spark_ml_algo_lib_master_tongji_spark.registry import build_registry
        from spark_ml_algo_lib_master_tongji_spark.session import get_session

        rec = PassRecord(index, traced)
        layers = self.layers if traced else None
        counts0 = dict(self.layers.counts)
        try:
            with layers.span(f"pass {index}", "pass") if layers is not None else contextlib.nullcontext(), \
                    self._installed(layers):
                t0 = time.perf_counter()
                spark = get_session(app_name=f"perfbench-{self.w.name}", extra_conf=self.conf(traced))
                t1 = time.perf_counter()
                spark.read.parquet(os.path.join(self.sf_dir, f"{self.w.warmup_table}.parquet")).count()
                t2 = time.perf_counter()
                rec.start_s, rec.warmup_s = t1 - t0, t2 - t1
                self.jvm_pid = SparkContext._gateway.proc.pid
                app_id = spark.sparkContext.applicationId
                registry = build_registry()
                load0 = benchlib.load_seconds()
                for name in self.w.queries:
                    q = run_query(
                        spark, self.sf_dir, name, registry[name], benchlib.materialize,
                        self.cpu, check=check, layers=layers,
                    )
                    rec.queries.append(q)
                rec.load_s = benchlib.load_seconds() - load0
                rec.wall_s = sum(q.wall_s for q in rec.queries)
                rec.cpu_s = sum(q.cpu_s for q in rec.queries)
                rec.peak_rss_mb = hostinfo.peak_rss_mb(self.jvm_pid)
                if index == 0:
                    self.env = hostinfo.environment(ROOT)
                spark.stop()
        finally:
            shutdown_jvm()
        if layers is not None:
            rec.layers = self.pass_layers(rec, app_id, counts0)
        return rec

    @staticmethod
    @contextlib.contextmanager
    def _installed(layers):
        if layers is None:
            yield
            return
        layers.install()
        try:
            yield
        finally:
            layers.uninstall()

    def pass_layers(self, rec: PassRecord, app_id: str, counts0: dict) -> dict:
        out = {
            "operators.call_s": sum(q.call_s for q in rec.queries),
            "benchlib.materialize_s": sum(q.materialize_s for q in rec.queries),
            "derive.build_s": rec.load_s,
            "derive.cost_s": rec.wall_s - rec.load_s,
        }
        for key in ("derive.builds", "iterative.calls", "iterative.rounds", "iterative.early_exits", "iterative.s"):
            out[key] = self.layers.counts.get(key, 0.0) - counts0.get(key, 0.0)
        log = eventlog.read(self.eventlogs / app_id)
        windows = [(q.start, q.end) for q in rec.queries]
        out.update(eventlog.figures(log, windows, CORES))
        for q in rec.queries:
            out[f"q.{q.name}.wall_s"] = q.wall_s
            jobs = eventlog.window_jobs(log, q.start, q.end)
            out[f"q.{q.name}.jobs"] = float(len(jobs))
            for j in jobs:
                self.layers.record(f"job {j.job_id}", "spark_job", j.start, j.end or q.end, q.span)
        return out

    def run(self) -> list[PassRecord]:
        """Passes for ``seconds`` (at least ``MIN_PASSES``); traced runs
        alternate untraced and traced passes, starting untraced."""
        check = self.checker()
        need = MIN_TRACE_PASSES if self.trace else MIN_PASSES
        passes: list[PassRecord] = []
        t0 = time.perf_counter()
        with self.layers.span(self.w.name, "workload"):
            while len(passes) < need or (time.perf_counter() - t0 < self.seconds and len(passes) < MAX_PASSES):
                i = len(passes)
                passes.append(self.run_pass(i, self.trace and i % 2 == 1, check))
                self.report(passes[-1])
        return passes

    @staticmethod
    def report(p: PassRecord) -> None:
        print(
            f"# pass {p.index}{' traced' if p.traced else ''}: setup {p.setup_s:.3f}s wall {p.wall_s:.3f}s "
            f"cpu {p.cpu_s:.3f}s load {p.load_s:.3f}s "
            + " ".join(f"{q.name}={q.wall_s:.2f}{'!' if q.error else ''}" for q in p.queries),
            file=sys.stderr,
            flush=True,
        )


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it and its children."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    kids = hostinfo.descendants(proc.pid) if proc is not None else []
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in kids:
        while Path(f"/proc/{pid}").exists() and time.time() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def summarize(bench: Bench, passes: list[PassRecord]) -> tuple[dict, int, int]:
    """End-to-end (untraced run) or per-layer (traced run) metrics, medians
    over passes, with the attempted and failed query counts."""
    queries = [q for p in passes for q in p.queries]
    attempted, failed = len(queries), sum(1 for q in queries if q.error)
    if not bench.trace:
        metrics = {
            "setup_s": median([p.setup_s for p in passes]),
            "wall_s": median([p.wall_s for p in passes]),
            "cpu_s": median([p.cpu_s for p in passes]),
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}, attempted, failed
    traced = [p for p in passes if p.traced]
    # the first pass also pays the Python side's first calls; compare with later ones
    plain = [p for p in passes[1:] if not p.traced]
    values = {name: 0.0 for name in per_layer_names()}
    for key in {k for p in traced for k in p.layers}:
        values[key] = median([p.layers.get(key, 0.0) for p in traced])
    values["session.start_s"] = median([p.start_s for p in traced])
    values["session.warmup_s"] = median([p.warmup_s for p in traced])
    values["jvm.peak_rss_mb"] = median([p.peak_rss_mb for p in traced])
    values["trace.overhead_pct"] = 100.0 * (
        median([p.wall_s for p in traced]) / median([p.wall_s for p in plain]) - 1.0
    )
    units = per_layer_names()
    return {k: {"value": values[k], "unit": units[k]} for k in units}, attempted, failed


def setup_environment() -> None:
    """Keep every file the run writes inside the checkout, and make the
    package importable from Spark's Python workers."""
    for sub in ("tmp", "spark-local", "warehouse"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(ROOT / "tests"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    setup_environment()
    try:
        import compare  # noqa: F401
        import spark_ml_algo_lib_master_tongji_spark.registry  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine or tests/compare.py is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    w = WORKLOADS[args.workload]
    t_start, steal0, la0 = time.time(), hostinfo.steal_ticks(), hostinfo.loadavg_1m()
    sf_dir, input_seed = inputs.prepare(w.input, args.seed, WORK)
    run_id = f"{w.name}-seed{args.seed}-trace{args.trace}-{int(t_start)}"
    bench = Bench(w, sf_dir, args.seconds, bool(args.trace), run_id)
    passes = bench.run()
    elapsed = time.time() - t_start
    env = bench.env
    env.update(
        {
            "steal_cpus": hostinfo.stolen_cpus(steal0, hostinfo.steal_ticks(), elapsed),
            "loadavg_1m": [la0, hostinfo.loadavg_1m()],
            "input_dir": os.path.relpath(sf_dir, ROOT),
            "input_seed": input_seed,
        }
    )
    metrics, attempted, failed = summarize(bench, passes)
    checked = {q.name for p in passes for q in p.queries if q.checked}
    unchecked = [q for q in w.queries if q not in checked]
    correct = failed == 0 and not unchecked
    artifact = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "environment": env,
        "elapsed_s": time.time() - t_start,
        "failed_frac": failed / attempted if attempted else 1.0,
        "unchecked": unchecked,
        "passes": [asdict(p) for p in passes],
        "metrics": metrics,
    }
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{run_id}.json").write_text(json.dumps(artifact, indent=1))
    if args.trace:
        (WORK / "traces").mkdir(parents=True, exist_ok=True)
        (WORK / "traces" / f"{run_id}.json").write_text(json.dumps(bench.layers.spans))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
