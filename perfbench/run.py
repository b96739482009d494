"""The repo's benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. Inputs are generated (once, cached
under ``perfbench/.work/data``) by ``datagen.py``; the seed fixes the op
order within a cycle and the lake key batches, never the op set. Every
file the run writes stays under ``perfbench/.work``.

A run: set up ``SETUP_REPS`` times (session start + tune + staging into
an empty stage dir; the first start also launches the JVM), run one
checked warm-up cycle, then a fixed number of timed cycles derived from
``--seconds``. Every op's output is checked outside the timed spans.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
traced and untraced cycles and prints the per-layer metrics, the
tracing overhead among them. The last stdout line is one JSON object
with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``;
the exit code is 0 only when every output checked out.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import stats  # noqa: E402
from check import Oracle, compare, fingerprint  # noqa: E402
from tracing import SparkCounters, Tracer, catalyst_phases  # noqa: E402

DATA_SEED = 42  # inputs are fixed; the run seed drives op order and key batches
DATA_VERSION = 1  # bump when datagen.py changes what it writes
SETUP_REPS = 3
DRIVER_MEMORY = "8g"
# seconds one timed cycle nominally takes: --seconds / this = timed cycles,
# a count that depends on the arguments only, so every run does equal work
NOMINAL_CYCLE_S = 10.0
MIN_TIMED_CYCLES = 2

# LLM-data curation ops: an iterative driver loop (star connected
# components, 20 eager jobs), quadratic embedding scoring and a Python-UDF op
CURATION_OPS = (
    "q_dedup_cluster_star",
    "q_dedup_embedding",
    "q_multimodal_meta",
)
WORKLOADS = ("curation", "lake_rw")

END_TO_END = {"setup_s": "s", "cycle_s": "s"}
OPERATOR_COUNTERS = (
    "jobs", "stages", "tasks", "driver_gap_s", "stage_busy_s", "executor_run_s",
    "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)
MANIFEST_OPS = ("upsert", "delete", "delete_mor", "delete_dv", "append", "compact", "vacuum", "read")
PER_LAYER = {
    "session.start_s": "s",
    "session.tune_s": "s",
    "sources.stage_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    **{f"operators.{k}": ("s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count")
       for k in OPERATOR_COUNTERS},
    "functions.python_eval_nodes": "count",
    "process.peak_rss_mb": "MB",
    **{f"sources.manifest.{op}_s": "s" for op in MANIFEST_OPS},
    "sources.manifest.commit_p50_s": "s",
    "sources.manifest.read_p50_s": "s",
    "sources.manifest.bytes_written": "bytes",
    "sources.manifest.files_written": "count",
    "sources.manifest.live_files": "count",
    "sources.manifest.rewrite_useful_ratio": "ratio",
    "sources.manifest.write_amp": "ratio",
    "sources.manifest.space_amp": "ratio",
    "trace.cycle_s": "s",
    "trace.overhead_ratio": "ratio",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress with seconds since start, on stderr."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


class OpFailed(Exception):
    """An op raised or returned a wrong result."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ensure_data() -> str:
    """Generated inputs, cached per generator version (atomic rename)."""
    from datagen import write_tables

    path = os.path.join(WORK, "data", f"v{DATA_VERSION}-s{DATA_SEED}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        write_tables(tmp, DATA_SEED)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        try:
            os.rename(tmp, path)
        except OSError:  # another run won the race
            shutil.rmtree(tmp, ignore_errors=True)
    return path


def isolate_environment(run_dir: str) -> None:
    """Keep the JVM, Python workers and Spark scratch under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (from /proc parent links)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


class Bench:
    def __init__(self, seed: int, seconds: int, trace: bool):
        import numpy as np

        self.trace = trace
        self.rng = np.random.default_rng(seed)
        self.n_timed = max(MIN_TIMED_CYCLES, round(seconds / NOMINAL_CYCLE_S))
        self.run_dir = os.path.join(WORK, "run")
        self.tracer = Tracer(trace)
        self.cores = nproc()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.setup_times: dict[str, list[float]] = {"setup": [], "start": [], "tune": [], "stage": []}
        self.cycle_s: list[float] = []
        self.traced_cycle_s: list[float] = []
        self.op_s: list[float] = []
        self.op_times: list[float] = []
        self.rss_mb = 0.0
        self.layer_cycles: list[dict[str, float]] = []

    # -- set-up ---------------------------------------------------------
    def setup(self) -> None:
        from nba_pipeline_spark.session import get_spark, retune

        for rep in range(SETUP_REPS):
            stage_dir = os.path.join(self.run_dir, f"stage{rep}")
            self.prepare_stage(stage_dir)
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", cores=self.cores)
            t1 = time.perf_counter()
            retune(self.spark)
            t2 = time.perf_counter()
            self.stage(stage_dir)
            t3 = time.perf_counter()
            if rep == 0:
                self.spark.sparkContext.setLogLevel("ERROR")
            for k, v in (("setup", t3 - t0), ("start", t1 - t0), ("tune", t2 - t1), ("stage", t3 - t2)):
                self.setup_times[k].append(v)
            log(f"set-up {rep}: session {t1 - t0:.3f} s, tune {t2 - t1:.3f} s, stage {t3 - t2:.3f} s")
        self.stage_dir = stage_dir
        self.counters = SparkCounters(self.spark)

    def prepare_stage(self, stage_dir: str) -> None:
        """Untimed: the benchmark's own copy of the inputs."""
        os.makedirs(stage_dir)
        for name in os.listdir(self.data_dir):
            shutil.copyfile(os.path.join(self.data_dir, name), os.path.join(stage_dir, name))

    def stage(self, stage_dir: str) -> None:
        raise NotImplementedError

    # -- cycles -----------------------------------------------------------
    def schedule(self) -> list[bool]:
        """Which timed cycles are traced. A traced run interleaves them
        between untraced ones (U T U ...), so the overhead ratio is not
        skewed by the JIT still speeding up from cycle to cycle."""
        if not self.trace:
            return [False] * self.n_timed
        k = max(1, self.n_timed // 2)
        return [False, True] * k + [False]

    def run(self) -> None:
        self.data_dir = ensure_data()
        log("inputs ready")
        self.setup()
        log("set up")
        self.cycle(0, check=True, traced=False)  # warm-up, discarded
        log("warm-up cycle checked")
        for i, traced in enumerate(self.schedule()):
            self.collect_garbage()
            self.op_times = []
            layers = self.cycle(i + 1, check=False, traced=traced)
            # a cycle's time is the sum of its timed ops: input preparation
            # and output checks between ops are not part of it
            (self.traced_cycle_s if traced else self.cycle_s).append(sum(self.op_times))
            if traced:
                self.layer_cycles.append(layers)
            log(f"cycle {i + 1} ({'traced' if traced else 'untraced'}): {sum(self.op_times):.3f} s")
        self.rss_mb = self.peak_rss_mb()

    def collect_garbage(self) -> None:
        """Untimed, between cycles: drop dead Python references, then let
        the JVM collect so the ContextCleaner frees blocks of frames that
        are gone (localCheckpoint data would otherwise pile up)."""
        gc.collect()
        self.spark._jvm.java.lang.System.gc()

    def cycle(self, n: int, check: bool, traced: bool) -> dict[str, float]:
        raise NotImplementedError

    def timed_op(self, name: str, n: int, traced: bool, layers: dict, body):
        """Run ``body(traced)`` as one timed op; traced, it runs under its
        own job group and its Spark counters land on its span and in
        ``layers``. Returns (result, seconds)."""
        self.attempted += 1
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        try:
            if not traced:
                result = body(False)
            else:
                group = job_group(n, name)
                sc.setJobGroup(group, name)
                with self.tracer.span(f"op:{name}", op_id=self.tracer.new_op(), cycle=n) as span:
                    w0 = time.time()
                    result = body(True)
                    w1 = time.time()
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    counters = self.counters.collect(group, w0, w1)
                    span.attrs.update(counters)
                for k, v in counters.items():
                    add(layers, f"operators.{k}", v)
        except Exception as e:
            self.fail(f"{name} (cycle {n}) raised: {type(e).__name__}: {e}\n{traceback.format_exc()}")
        dt = time.perf_counter() - t0  # a traced op pays for reading its counters
        self.op_times.append(dt)
        log(f"  {name}: {dt:.3f} s")
        return result, dt

    def fail(self, why: str):
        self.failed += 1
        self.errors.append(why)
        raise OpFailed(why)

    # -- results ----------------------------------------------------------
    def metrics(self) -> dict:
        if not self.trace:
            out = {
                "setup_s": stats.median(self.setup_times["setup"]),
                "cycle_s": stats.median(self.cycle_s),
            }
            return {k: {"value": v, "unit": END_TO_END[k]} for k, v in out.items()}
        out = dict.fromkeys(PER_LAYER, 0.0)
        for k in self.layer_cycles[0] if self.layer_cycles else ():
            out[k] = stats.median([c.get(k, 0.0) for c in self.layer_cycles])
        out["session.start_s"] = stats.median(self.setup_times["start"])
        out["session.tune_s"] = stats.median(self.setup_times["tune"])
        out["sources.stage_s"] = stats.median(self.setup_times["stage"])
        out["trace.cycle_s"] = stats.median(self.traced_cycle_s)
        out["trace.overhead_ratio"] = out["trace.cycle_s"] / stats.median(self.cycle_s)
        out["process.peak_rss_mb"] = self.rss_mb
        out.update(self.extra_layers())
        return {k: {"value": v, "unit": PER_LAYER[k]} for k, v in out.items()}

    def peak_rss_mb(self) -> float:
        """Peak resident memory of the JVM plus this Python driver."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return peak_rss_mb(jvm_pid) + peak_rss_mb(os.getpid())

    def extra_layers(self) -> dict[str, float]:
        return {}

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM and every worker to exit."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, 9)
            except ProcessLookupError:
                pass


def job_group(cycle: int, op: str) -> str:
    return f"pb{cycle}-{op}"


def add(d: dict, k: str, v: float) -> None:
    d[k] = d.get(k, 0.0) + v


class Curation(Bench):
    """Registered curation ops over the staged tables, checked against
    their DuckDB oracles on the warm-up cycle and against that cycle's
    fingerprints on every timed one."""

    def stage(self, stage_dir: str) -> None:
        from nba_pipeline_spark.sources.registry import TABLES, load_table

        for t in TABLES:
            load_table(self.spark, stage_dir, t)

    def cycle(self, n: int, check: bool, traced: bool) -> dict[str, float]:
        from nba_pipeline_spark.plans.queries import REGISTRY

        oracle = Oracle(self.data_dir, os.path.join(WORK, "oracle")) if check else None
        if check:
            self.expected: dict[str, tuple] = {}
        layers: dict[str, float] = {}
        for name in self.rng.permutation(CURATION_OPS):
            fn = REGISTRY[name].fn

            def body(traced, fn=fn, name=name):
                if not traced:
                    return fn(self.spark, self.stage_dir).toPandas()
                with self.tracer.span("plans.build") as build:
                    df = fn(self.spark, self.stage_dir)
                    # jobs the query fn ran eagerly (iterative loops)
                    build.attrs["jobs"] = len(self.counters.group_jobs(job_group(n, name)))
                with self.tracer.span("plans.catalyst") as cat:
                    cat.attrs.update(catalyst_phases(df))
                with self.tracer.span("operators.action"):
                    pdf = df.toPandas()
                add(layers, "plans.build_s", build.end - build.start)
                add(layers, "plans.build_jobs", build.attrs["jobs"])
                for k in ("analysis_ms", "optimization_ms", "planning_ms"):
                    add(layers, f"plans.{k}", cat.attrs[k])
                add(layers, "functions.python_eval_nodes", cat.attrs["python_eval_nodes"])
                return pdf

            pdf, dt = self.timed_op(name, n, traced, layers, body)
            if check:
                self.check_oracle(oracle, name, REGISTRY[name].oracle, pdf)
                self.expected[name] = fingerprint(pdf)
            else:
                if not traced:
                    self.op_s.append(dt)
                if fingerprint(pdf) != self.expected[name]:
                    self.fail(f"{name} (cycle {n}): output differs from the checked warm-up output")
            gc.collect()
        if oracle is not None:
            oracle.close()
        return layers

    def check_oracle(self, oracle: Oracle, name: str, sql: str | None, pdf) -> None:
        if sql is None:  # no oracle: later cycles are held to this output
            return
        why = compare(pdf, oracle.run(sql))
        if why is not None:
            self.fail(f"{name}: differs from its DuckDB oracle: {why}")


class LakeRW(Bench):
    """Seeded upserts, three kinds of delete, re-appends and reads on a
    manifest lake of ``orders``; see lake.py."""

    def stage(self, stage_dir: str) -> None:
        from nba_pipeline_spark.sources import manifest as M
        from nba_pipeline_spark.sources.registry import load_table

        import lake as L
        from datagen import SF_ROWS

        self.lake = os.path.join(stage_dir, "lake")
        self.n_keys = SF_ROWS["orders"]
        orders = load_table(self.spark, stage_dir, "orders").select(*L.COLUMNS)
        M.commit_append(self.spark, self.lake, orders, stats_cols=[L.KEY])

    def setup(self) -> None:
        super().setup()
        import lake as L
        from nba_pipeline_spark.sources import manifest as M

        snap = M.read_snapshot(self.spark, self.lake).toPandas()
        self.model = L.LakeModel(snap)
        if len(snap) != self.n_keys:
            self.fail(f"staged lake holds {len(snap)} rows, not {self.n_keys}")
        if self.trace:
            # untimed: the live snapshot written compacted once, the base
            # of write and space amplification
            base = os.path.join(self.run_dir, "compacted")
            M.commit_append(self.spark, base, M.read_snapshot(self.spark, self.lake), target_files=1)
            self.compacted_bytes = sum(
                s for p, s in L.files_on_disk(base).items() if p.endswith(".parquet"))
        self.seq = 0
        self.commit_s: list[float] = []
        self.read_s: list[float] = []

    def cycle(self, n: int, check: bool, traced: bool) -> dict[str, float]:
        from pyspark.sql import functions as F

        import lake as L
        from nba_pipeline_spark.sources import manifest as M

        spark, lake, model = self.spark, self.lake, self.model
        b = L.draw_batches(self.rng, self.n_keys)
        self.seq += 1
        changes = model.upsert_rows(b.upsert, self.seq)
        reappend = model.rows_for(b.deleted)
        schema = "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double"
        changes_df = spark.createDataFrame(
            changes[L.COLUMNS + [L.SEQ]], f"{schema}, {L.SEQ} long")
        reappend_df = spark.createDataFrame(reappend[L.COLUMNS], schema)
        keys_df = {k: spark.createDataFrame([(int(x),) for x in getattr(b, k)], "o_orderkey long")
                   for k in ("delete_cow", "delete_mor", "delete_dv")}

        def summary(version=None):
            snap = M.read_snapshot(spark, lake, version=version)
            return snap.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
            ).toPandas()

        ops = [
            ("upsert", "commit", len(b.upsert),
             lambda: M.commit_upsert_pruned(spark, lake, changes_df, [L.KEY], L.SEQ)),
            ("delete", "commit", len(b.delete_cow),
             lambda: M.commit_delete(spark, lake, keys_df["delete_cow"], [L.KEY])),
            ("delete_mor", "commit", len(b.delete_mor),
             lambda: M.commit_delete_mor(spark, lake, keys_df["delete_mor"], [L.KEY])),
            ("delete_dv", "commit", len(b.delete_dv),
             lambda: M.commit_delete_dv(spark, lake, keys_df["delete_dv"], [L.KEY])),
            ("append", "commit", len(reappend),
             lambda: M.commit_append(spark, lake, reappend_df, stats_cols=[L.KEY])),
            ("read", "read", 0, lambda: summary()),
            ("read_prev", "read", 0, lambda: summary(version=self.appended - 1)),
            ("read_keys", "read", 0,
             lambda: M.read_for_keys(spark, lake, L.KEY, b.upsert.tolist()).toPandas()),
            ("read_meta", "read", 0,
             lambda: M.metadata_agg(spark, lake, min_cols=[L.KEY], max_cols=[L.KEY],
                                    count_cols=[L.KEY]).toPandas()),
            ("compact", "maint", 0, lambda: M.compact(spark, lake, stats_cols=[L.KEY])),
            ("vacuum", "maint", 0, lambda: M.vacuum(spark, lake)),
        ]
        layers: dict[str, float] = {}
        changed = written_rows = 0
        for name, kind, n_changed, call in ops:
            before = L.files_on_disk(lake) if traced else None
            if name == "compact":
                space = sum(L.files_on_disk(lake).values()) / self.compacted_bytes if traced else 0
            result, dt = self.timed_op(name, n, traced, layers, lambda traced, call=call: call())
            if name == "append":
                self.appended = result
            if traced:
                new = {p: s for p, s in L.files_on_disk(lake).items() if p not in before}
                metric = "read" if kind == "read" else name
                add(layers, f"sources.manifest.{metric}_s", dt)
                add(layers, "sources.manifest.bytes_written", sum(new.values()))
                add(layers, "sources.manifest.files_written", len(new))
                written_rows += L.parquet_rows(list(new))
                changed += n_changed
                if name == "compact":
                    layers["sources.manifest.space_amp"] = space
            if not check and not traced:
                self.op_s.append(dt)
                if kind == "commit":
                    self.commit_s.append(dt)
                elif kind == "read":
                    self.read_s.append(dt)
            self.check_lake_op(name, result, b)
            if name == "upsert":
                model.apply_upsert(changes)
        if traced:
            layers["sources.manifest.live_files"] = sum(
                1 for p in L.files_on_disk(lake) if p.endswith(".parquet"))
            layers["sources.manifest.rewrite_useful_ratio"] = changed / max(written_rows, 1)
            bytes_per_row = self.compacted_bytes / self.n_keys
            layers["sources.manifest.write_amp"] = (
                layers["sources.manifest.bytes_written"] / (changed * bytes_per_row))
        got = M.read_snapshot(spark, lake).toPandas()
        why = L.snapshot_diff(got, model.snapshot())
        if why is not None:
            self.fail(f"snapshot after cycle {n} differs from the model: {why}")
        return layers

    def check_lake_op(self, name: str, result, b) -> None:
        import lake as L

        model = self.model
        why = None
        if name == "read":
            why = L.summary_diff(result, L.status_summary(model.snapshot()))
        elif name == "read_prev":
            why = L.summary_diff(result, L.status_summary(model.without(b.deleted)))
        elif name == "read_keys":
            why = L.snapshot_diff(result, model.rows_for(b.upsert))
        elif name == "read_meta":
            snap = model.snapshot()
            want = {"count_rows": len(snap), f"min_{L.KEY}": snap[L.KEY].min(),
                    f"max_{L.KEY}": snap[L.KEY].max(), f"count_{L.KEY}": len(snap)}
            got = {k: int(result[k].iloc[0]) for k in want}
            why = None if got == {k: int(v) for k, v in want.items()} else f"{got} != {want}"
        if why is not None:
            self.fail(f"{name}: differs from the model: {why}")

    def extra_layers(self) -> dict[str, float]:
        out = super().extra_layers()
        if self.commit_s:
            out["sources.manifest.commit_p50_s"] = stats.median(self.commit_s)
            out["sources.manifest.read_p50_s"] = stats.median(self.read_s)
        return out


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nba_pipeline_spark")):
        print(f"no nba_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate_environment(run_dir)
    sys.path.insert(0, ROOT)
    cls = {"curation": Curation, "lake_rw": LakeRW}[args.workload]
    bench = cls(args.seed, args.seconds, bool(args.trace))
    try:
        bench.run()
        metrics = bench.metrics()
    except OpFailed:
        metrics = {}
    finally:
        try:
            if bench.trace:
                os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
                bench.tracer.write(os.path.join(
                    WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        finally:
            bench.shutdown()
            log("stopped")
    for e in bench.errors:
        print(f"ERROR: {e}", file=sys.stderr)
    correct = bench.failed == 0
    tail = stats.tail_percentile(len(bench.op_s))
    op_p50 = f"{stats.median(bench.op_s):.4f}" if bench.op_s else "none"
    print(
        f"workload={args.workload} seed={args.seed} trace={args.trace} cores={bench.cores} "
        f"driver_memory={DRIVER_MEMORY} setup_reps={SETUP_REPS} timed_cycles={bench.n_timed} "
        f"op_samples={len(bench.op_s)} op_p50_s={op_p50} "
        f"tail_percentile={f'p{tail}' if tail else 'none'} peak_rss_mb={bench.rss_mb:.0f} "
        f"error_rate={bench.failed / max(bench.attempted, 1):.4f}"
    )
    print(json.dumps({
        "correct": correct,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
