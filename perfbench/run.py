#!/usr/bin/env python3
"""End-to-end benchmark of hadoop_deliver_spark.

One run sets the program up, generates its inputs from ``--seed``,
runs passes over a workload's query list until pass time settles,
then times as many passes as take ``--seconds`` at the workload's
nominal pass time and checks every timed result against the DuckDB
oracle outside the timed window::

    python3 perfbench/run.py --workload floor_sf001 --seed 1 --seconds 12 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. ``--repeat N`` runs N seeds
in fresh processes and prints each end-to-end metric's quartiles and
spread. See perfbench/README.md for workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import resource
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import measure  # noqa: E402
from workloads import EPOCH_KEEP, EPOCH_TABLES, WORKLOADS  # noqa: E402

#: warm-up: at least MIN_WARMUP passes (the cold one included), then
#: until a pass is no more than SETTLE_TOL faster than the pass before
#: it, at most MAX_WARMUP passes
MIN_WARMUP = 4
MAX_WARMUP = 8
SETTLE_TOL = 0.10
MIN_TIMED = 3
#: fresh processes that each measure set-up, besides the run's own
SETUP_CHILDREN = 1
TINY_SF = 0.001
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _setup() -> tuple:
    """Start the session and load the registry: what every CLI call pays."""
    t0 = time.perf_counter()
    from hadoop_deliver_spark.session import get_spark

    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    from hadoop_deliver_spark.registry import load_all

    registry = load_all()
    t2 = time.perf_counter()
    return spark, registry, t1 - t0, t2 - t1


def _stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        proc.wait(timeout=60)


def setup_probe() -> int:
    """Child mode: measure one set-up from a bare interpreter and exit."""
    spark, _, start_s, load_s = _setup()
    print(json.dumps({"start_s": start_s, "load_s": load_s}), flush=True)
    _stop(spark)
    return 0


class Exec:
    """One query execution: its timings, result handle and verdict."""

    def __init__(self, query: str, pass_no: int, epoch: int, probe: bool = False):
        self.query, self.pass_no, self.epoch, self.probe = query, pass_no, epoch, probe
        self.build_s = self.action_s = self.total_s = 0.0
        self.result = None  # pandas frame, or the delivered directory
        self.error: str | None = None
        self.counts: dict[str, float] = {}


class Pass:
    """One pass over a workload's query list, with its resource deltas."""

    def __init__(self):
        self.wall_s = self.driver_cpu_s = self.jvm_cpu_s = self.jit_cpu_s = 0.0
        self.gc_s = self.steal_s = 0.0
        self.execs: list[Exec] = []
        self.reads = 0
        self.read_s = 0.0


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.sf = TINY_SF if args.tiny else self.wl.sf
        self.data_dir = os.path.join(run_dir, "data")
        self.out_dir = os.path.join(run_dir, "delivered")
        self.tracer = measure.Tracer() if args.trace else None
        self.expected: dict[int, dict] = {}   # epoch -> query -> oracle frame
        self.reference: dict[str, tuple] = {}  # rows-only: query -> (columns, rows)
        self.probes: list[Exec] = []
        self.epoch = 0

    # --- set-up -------------------------------------------------------
    def measure_setup(self) -> list[float]:
        samples = []
        for _ in range(0 if self.args.tiny else SETUP_CHILDREN):
            out = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-probe"],
                                 capture_output=True, text=True, timeout=170, check=True)
            child = json.loads(out.stdout.strip().splitlines()[-1])
            samples.append(child["start_s"] + child["load_s"])
        self.spark, self.registry, self.start_s, self.load_s = _setup()
        samples.append(self.start_s + self.load_s)
        return samples

    def prepare(self) -> None:
        import duckdb

        import datagen
        from hadoop_deliver_spark import api
        from hadoop_deliver_spark.__main__ import main as cli_main
        from tests.parity import assert_frames_match

        self.api, self.cli_main, self.assert_frames_match = api, cli_main, assert_frames_match
        self.datagen = datagen
        self.jvm = measure.Jvm(self.spark)
        self.base = datagen.build_tables(self.sf, self.args.seed)
        datagen.write_all(self.data_dir, self.base)
        self.duck = duckdb.connect()
        for t in datagen.TABLES:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{self.data_dir}/{t}.parquet/*.parquet')")
        missing = [q for q in self.wl.queries + self.wl.probe if q not in self.registry]
        if missing:
            raise SystemExit(f"unknown queries in {self.wl.name}: {missing}")
        if self.tracer:
            self._wrap_layers()

    def _wrap_layers(self) -> None:
        """Traced runs only: time the calls into tables (parquet reads)
        and operators (Query.fn) from outside, and tag each call's Spark
        jobs with a job group named after the query execution."""
        from pyspark.sql.readwriter import DataFrameReader

        tracer, sc = self.tracer, self.spark.sparkContext
        read = self._orig_read = DataFrameReader.parquet

        def traced_read(reader, *paths, **kw):
            span = tracer.start("tables.read", tracer.current_trace(), paths=[str(p) for p in paths])
            try:
                return read(reader, *paths, **kw)
            finally:
                tracer.end(span)

        DataFrameReader.parquet = traced_read
        self._orig_fns = {}
        for name in self.wl.queries + self.wl.probe:
            q = self.registry[name]
            self._orig_fns[name] = fn = q.fn

            def traced_fn(spark, sf_dir, _fn=fn):
                trace = tracer.current_trace()
                sc.setJobGroup(f"{trace}/build", trace)
                span = tracer.start("operators.build", trace)
                try:
                    return _fn(spark, sf_dir)
                finally:
                    tracer.end(span)
                    sc.setJobGroup(f"{trace}/action", trace)

            q.fn = traced_fn

    def _unwrap_layers(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        DataFrameReader.parquet = self._orig_read
        for name, fn in self._orig_fns.items():
            self.registry[name].fn = fn

    # --- epochs and oracles (never timed) -----------------------------
    def new_epoch(self, no: int) -> None:
        """Deliver workloads: rewrite EPOCH_TABLES in place as seeded
        row subsets, then compute this epoch's oracle frames."""
        import numpy as np

        self.epoch = no
        rng = np.random.default_rng([self.args.seed, no])
        for t in EPOCH_TABLES:
            self.datagen.rewrite_subset(self.data_dir, t, self.base[t], rng, EPOCH_KEEP)
        self._oracles(no, self.wl.queries)

    def _oracles(self, epoch: int, names) -> None:
        frames = self.expected.setdefault(epoch, {})
        for name in names:
            sql = self.registry[name].oracle
            if sql is not None:
                frames[name] = self.duck.execute(sql).df()
        if self.args.corrupt_expected and names is self.wl.queries:
            # self-test: one deliberately wrong expected frame must be
            # counted as a failure on every execution it is checked against
            name = next(n for n in names if n in frames)
            frames[name] = frames[name].iloc[: max(0, len(frames[name]) - 1)]

    # --- execution ----------------------------------------------------
    def execute(self, name: str, pass_no: int, probe: bool = False) -> Exec:
        ex = Exec(name, pass_no, self.epoch, probe)
        trace = f"{name}#{pass_no}" + ("#probe" if probe else "")
        first = len(self.tracer.spans) if self.tracer else 0
        span = self.tracer.start("query", trace, query=name, pass_no=pass_no) if self.tracer else None
        t0 = time.perf_counter()
        try:
            if self.wl.deliver:
                self._deliver(ex, trace)
            else:
                self._collect(ex, trace)
        except Exception as e:  # a failing query is a failed operation, not a crash
            ex.error = f"{type(e).__name__}: {str(e)[:300]}"
        ex.total_s = time.perf_counter() - t0
        if span is not None:
            self.tracer.end(span, error=ex.error)
            for part in ("build", "action"):
                for k, v in self.jvm.group_counts(f"{trace}/{part}").items():
                    ex.counts[f"{part}.{k}"] = v
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            ex.build_s = sum(s["end"] - s["start"] for s in self.tracer.spans[first:]
                             if s["name"] == "operators.build")
            ex.action_s = ex.total_s - ex.build_s
        return ex

    def _collect(self, ex: Exec, trace: str) -> None:
        df = self.registry[ex.query].fn(self.spark, self.data_dir)
        span = self.tracer.start("spark.action", trace) if self.tracer else None
        try:
            ex.result = df.toPandas()
        finally:
            if span is not None:
                self.tracer.end(span)

    def _deliver(self, ex: Exec, trace: str) -> None:
        out = os.path.join(self.out_dir, f"e{ex.epoch}", ("probe-" if ex.probe else "") + ex.query)
        span = self.tracer.start("cli.deliver", trace) if self.tracer else None
        try:
            with contextlib.redirect_stdout(sys.stderr):
                rc = self.cli_main(["deliver", ex.query, "--sf-dir", self.data_dir, "--out", out])
        finally:
            if span is not None:
                self.tracer.end(span)
        if rc != 0:
            raise RuntimeError(f"deliver exited {rc}")
        ex.result = out

    def run_pass(self, no: int) -> Pass:
        p = Pass()
        if self.wl.clear_caches:
            self.api.clear_stage_caches()
        n_spans = len(self.tracer.spans) if self.tracer else 0
        c0, (j0, jit0), g0, s0 = (measure.driver_cpu_s(), self.jvm.cpu_s(),
                                  self.jvm.gc_s(), measure.steal_s())
        t0 = time.perf_counter()
        for name in self.wl.queries:
            p.execs.append(self.execute(name, no))
        p.wall_s = time.perf_counter() - t0
        p.driver_cpu_s = measure.driver_cpu_s() - c0
        j1, jit1 = self.jvm.cpu_s()
        p.jit_cpu_s = jit1 - jit0
        p.jvm_cpu_s = j1 - j0 - p.jit_cpu_s
        p.gc_s = self.jvm.gc_s() - g0
        p.steal_s = measure.steal_s() - s0
        if self.tracer:
            reads = [s for s in self.tracer.spans[n_spans:] if s["name"] == "tables.read"]
            p.reads, p.read_s = len(reads), sum(s["end"] - s["start"] for s in reads)
        if no == 1 and self.tracer:  # untimed: fill the known-stale memo
            for name in self.wl.probe:
                self.execute(name, no, probe=True)
        return p

    def probe_stale(self, no: int) -> None:
        """After the timed window, on the last epoch: deliver the probe
        queries again and keep them for checking against this epoch's
        oracle. A memo that ignored the rewrites serves epoch 1's result."""
        self._oracles(self.epoch, self.wl.probe)
        for name in self.wl.probe:
            self.probes.append(self.execute(name, no, probe=True))

    def timed_pass_count(self) -> int:
        """Passes in the timed window: as many as take ``--seconds`` at
        the workload's nominal pass time. A fixed count per workload
        keeps every run's statistics over the same number of samples."""
        return max(MIN_TIMED, round(self.args.seconds / self.wl.nominal_pass_s))

    def run_passes(self) -> tuple[list[Pass], int, bool]:
        """Warm up until pass time settles, then run the timed passes.
        Returns (passes, first timed pass, settled)."""
        min_warmup = 2 if self.args.tiny else MIN_WARMUP
        n_timed = self.timed_pass_count()
        passes: list[Pass] = []
        timed_from, settled = None, False
        while timed_from is None or len(passes) - timed_from < n_timed:
            no = len(passes)
            if self.wl.deliver:
                self.new_epoch(no)
                log(f"epoch {no} written")
            elif no == 0:
                self._oracles(0, self.wl.queries)
            passes.append(self.run_pass(no))
            q = passes[-1]
            log(f"pass {no}: {q.wall_s:.3f} s (driver cpu {q.driver_cpu_s:.2f}, jvm cpu {q.jvm_cpu_s:.2f}, "
                f"jit cpu {q.jit_cpu_s:.2f}, gc {q.gc_s:.2f} s)")
            if no == 0:
                self._keep_reference(passes[0])
            if timed_from is None and no + 1 >= min_warmup:
                # settled: no longer faster than the pass before by more
                # than SETTLE_TOL (a slower pass is noise, not warm-up)
                settled = q.wall_s >= (1 - SETTLE_TOL) * passes[-2].wall_s
                if settled or no + 1 >= MAX_WARMUP:
                    timed_from = no + 1
        return passes, timed_from, settled

    def _keep_reference(self, first: Pass) -> None:
        """Rows-only queries have no oracle: later passes must repeat
        the first pass's columns and row count."""
        for ex in first.execs:
            if self.registry[ex.query].oracle is None and ex.error is None:
                frame = self._frame(ex)
                self.reference[ex.query] = (sorted(frame.columns), len(frame))

    # --- correctness (after timing) -----------------------------------
    def _frame(self, ex: Exec):
        if isinstance(ex.result, str):
            return self.duck.execute(f"SELECT * FROM read_parquet('{ex.result}/*.parquet')").df()
        return ex.result

    def check(self, ex: Exec) -> str | None:
        """None if ``ex`` matches its oracle, else why it does not."""
        if ex.error is not None:
            return ex.error
        try:
            got = self._frame(ex)
            expected = self.expected[ex.epoch].get(ex.query)
            if expected is not None:
                self.assert_frames_match(got, expected, ex.query)
            elif (sorted(got.columns), len(got)) != self.reference.get(ex.query):
                return f"rows-only: {sorted(got.columns)} x {len(got)} vs {self.reference.get(ex.query)}"
        except AssertionError as e:
            return str(e)[:300]
        except Exception as e:  # unreadable delivery and the like
            return f"{type(e).__name__}: {str(e)[:300]}"
        return None

    # --- the run ------------------------------------------------------
    def run(self) -> dict:
        setup = self.measure_setup()
        log("set up")
        try:
            self.prepare()
            log("inputs generated")
            passes, timed_from, settled = self.run_passes()
            if self.wl.probe and self.tracer:
                self.probe_stale(len(passes) - 1)
                log("stale probe delivered")
            if self.tracer:
                self._unwrap_layers()
            heap_mb = self.jvm.heap_after_gc_mb()
        finally:
            _stop(self.spark)
        timed = passes[timed_from:]
        execs = [ex for p in timed for ex in p.execs]
        failures = {}
        for ex in execs:
            why = self.check(ex)
            if why is not None:
                failures.setdefault(ex.query, why)
                ex.error = why
        failed = sum(1 for ex in execs if ex.error is not None)
        stale = [ex for ex in self.probes if self.check(ex) is not None]
        log("checked")

        lat = [ex.total_s for ex in execs]
        tail_v, tail_pct, n = measure.tail(lat)
        info = {
            "workload": self.wl.name, "seed": self.args.seed, "sf": self.sf,
            "cpus": os.environ["SPARK_GRAFT_CPUS"], "versions": _versions(),
            "warmup_passes": timed_from, "settled": settled,
            "timed_passes": len(timed), "pass_times_s": [round(p.wall_s, 3) for p in passes],
            # CPU time taken by other guests of the host while passes ran
            "steal_s": [round(p.steal_s, 2) for p in passes],
            "setup_samples_s": [round(s, 3) for s in setup],
            "query_tail": f"p{tail_pct:.0f} of n={n}",
            "query_median_s": {q: round(measure.median([ex.total_s for ex in execs if ex.query == q]), 3)
                               for q in self.wl.queries},
            "failures": failures,
        }
        if self.wl.probe:
            info["stale_probe"] = (sorted({ex.query for ex in stale}) if self.tracer
                                   else "runs only in traced runs")
            info["stale_probe_base"] = len(self.probes)
        e2e = {
            "setup_s": (measure.median(setup), "s"),
            "pass_s": (measure.median([p.wall_s for p in timed]), "s"),
            "query_p50_s": (measure.median(lat), "s"),
            "query_tail_s": (tail_v, "s"),
            "cpu_s": (measure.median([p.driver_cpu_s + p.jvm_cpu_s for p in timed]), "s"),
            "correct_ratio": ((len(execs) - failed) / len(execs), "ratio"),
            "driver_rss_mb": (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, "MB"),
        }
        if self.tracer:
            metrics = self.layer_metrics(timed, heap_mb, failed, len(stale), timed_from)
            overhead = _tracing_overhead(self.wl.name, e2e["pass_s"][0])
            info["tracing_overhead"] = overhead
            info["self_time_s"] = {k: round(v, 3) for k, v in self.tracer.self_times().items()}
            self.tracer.write(os.path.join(OUT_DIR, f"trace-{self.wl.name}-seed{self.args.seed}.json"),
                              dict(info=info, metrics=metrics))
            log(f"spans: {len(self.tracer.spans)} written to {OUT_DIR}")
            log(f"tracing overhead: {overhead}")
        else:
            metrics = e2e
        if not self.tracer and not self.args.tiny:
            os.makedirs(OUT_DIR, exist_ok=True)
            with open(os.path.join(OUT_DIR, f"last-{self.wl.name}.json"), "w") as fh:
                json.dump({"seed": self.args.seed, "pass_s": e2e["pass_s"][0]}, fh)
        for k, v in info.items():
            print(f"# {k}: {json.dumps(v)}")
        for name, (value, unit) in metrics.items():
            print(f"{name} = {value:.6g} {unit}")
        return {
            "correct": failed == 0, "attempted": len(execs), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def layer_metrics(self, timed: list[Pass], heap_mb: float, mismatches: int,
                      stale: int, warmup: int) -> dict:
        def per_pass(fn) -> float:
            return measure.median([fn(p) for p in timed])

        def count(p: Pass, key: str) -> float:
            return sum(ex.counts.get(f"build.{key}", 0) + ex.counts.get(f"action.{key}", 0)
                       for ex in p.execs)

        def out_bytes(p: Pass) -> int:
            return sum(os.path.getsize(os.path.join(dp, f)) for ex in p.execs
                       if isinstance(ex.result, str) for dp, _, fs in os.walk(ex.result) for f in fs)

        m = {
            "session.start_s": (self.start_s, "s"),
            "registry.load_s": (self.load_s, "s"),
            "operators.build_s": (per_pass(lambda p: sum(ex.build_s for ex in p.execs)), "s"),
            "operators.build_jobs": (per_pass(lambda p: sum(ex.counts.get("build.jobs", 0)
                                                            for ex in p.execs)), "count"),
            "tables.parquet_reads": (per_pass(lambda p: p.reads), "count"),
            "tables.read_s": (per_pass(lambda p: p.read_s), "s"),
            "spark.action_s": (per_pass(lambda p: sum(ex.action_s for ex in p.execs)), "s"),
        }
        for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                          ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"),
                          ("spill_mb", "MB"), ("input_mb", "MB"), ("task_s", "s")):
            m[f"spark.{key}"] = (per_pass(lambda p, k=key: count(p, k)), unit)
        m.update({
            "jvm.cpu_s": (per_pass(lambda p: p.jvm_cpu_s), "s"),
            "jvm.jit_cpu_s": (per_pass(lambda p: p.jit_cpu_s), "s"),
            "driver.cpu_s": (per_pass(lambda p: p.driver_cpu_s), "s"),
            "jvm.gc_s": (per_pass(lambda p: p.gc_s), "s"),
            "jvm.heap_after_gc_mb": (heap_mb, "MB"),
            "deliver.bytes_out": (per_pass(out_bytes), "bytes"),
            "oracle.mismatches": (mismatches, "count"),
            "oracle.stale_results": (stale, "count"),
            "bench.warmup_passes": (warmup, "count"),
        })
        return m


def _versions() -> dict:
    import duckdb
    import pyspark

    return {"pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "python": sys.version.split()[0]}


def _tracing_overhead(workload: str, traced_pass_s: float) -> str:
    """Traced pass_s against the last untraced run of the workload."""
    try:
        with open(os.path.join(OUT_DIR, f"last-{workload}.json")) as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        return "unknown: no untraced run of this workload recorded yet"
    d = traced_pass_s - base["pass_s"]
    return (f"pass_s {traced_pass_s:.3f} s traced vs {base['pass_s']:.3f} s untraced "
            f"(seed {base['seed']}): {d:+.3f} s, {100 * d / base['pass_s']:+.1f}%")


@contextlib.contextmanager
def isolated_run():
    """A private run directory for Spark's local dirs, the warehouse
    (the JVM's working directory), temp files, generated inputs and
    delivered outputs; removed when the run ends."""
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    saved_env, saved_cwd = dict(os.environ), os.getcwd()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=tmp,
        # C1 only: see "JIT" in perfbench/README.md
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
        # Python UDF workers start in the JVM's working directory (the
        # run directory) and must still import the package
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp
    os.chdir(run_dir)
    try:
        yield run_dir
    finally:
        os.chdir(saved_cwd)
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = None
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(base)


def repeat(args) -> int:
    """Run ``--repeat`` seeds in fresh processes; print each end-to-end
    metric's median, quartiles and spread, (q3 - q1) / median, next to
    the bound BENCHMARK.json gives it."""
    bounds = {}
    with contextlib.suppress(OSError):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for i in range(args.repeat):
        seed = args.seed + i
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
        wall = time.perf_counter() - t0
        if out.returncode != 0:
            log(out.stderr[-3000:])
            raise SystemExit(f"seed {seed}: exit {out.returncode}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"repeat-{args.workload}-seed{seed}.txt"), "w") as fh:
            fh.write(out.stdout)
        passes = next((ln for ln in out.stdout.splitlines() if ln.startswith("# pass_times_s")), "")
        log(f"seed {seed}: {wall:.1f} s wall, correct={res['correct']} "
            + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) + f" {passes}")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    report = {}
    for k, vs in values.items():
        q1, med, q3 = measure.quartiles(vs)
        spread = (q3 - q1) / med if med else 0.0
        report[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(vs),
                     "unit": units[k], "bound": bounds.get(k)}
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if spread <= b / 3 else "WIDE")
        print(f"{k:16s} median {med:.5g} {units[k]}  q1 {q1:.5g}  q3 {q3:.5g}  "
              f"spread {100 * spread:.2f}%  bound {b}  {flag}")
    print(json.dumps({"workload": args.workload, "seeds": [args.seed, args.seed + args.repeat - 1],
                      "spread": report}))
    return 0


def _importable(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent package is missing
        return False


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=0,
                   help="run this many seeds (seed, seed+1, ...) and report spread")
    p.add_argument("--tiny", action="store_true",
                   help="self-test size: sf0.001 and a single set-up sample")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="self-test: make one expected frame wrong")
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.setup_probe:
        return setup_probe()
    if args.workload is None:
        p.error("--workload is required")
    if args.repeat:
        return repeat(args)
    missing = [m for m in ("hadoop_deliver_spark", "tests.parity") if not _importable(m)]
    if missing:
        log(f"cannot import {missing} from {ROOT}: run from a checkout of the repository")
        return 2
    t0 = time.perf_counter()
    with isolated_run() as run_dir:
        result = Bench(args, run_dir).run()
    log(f"run wall: {time.perf_counter() - t0:.1f} s")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
