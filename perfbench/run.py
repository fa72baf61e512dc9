"""Seeded end-to-end benchmark of the presto_truffle_spark engine.

    python3 perfbench/run.py --workload scan_gen --seed 1 --seconds 28 --trace 0

Run from the repository root. Each run is one closed loop with one client
on ``local[nproc]``: set up the session and registry, run every key once in
the fresh session (the cold pass), then whole round-robin passes over the
keys: ``--seconds`` divided by the workload's measured pass time, so every
run of a workload takes the same number of samples whatever the host's
load. Every execution's result is checked against a DuckDB oracle
outside the timers. The last line of standard output is one JSON object:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of
``tracing.py`` with ``--trace 1``. ``README.md`` beside this file says why
each workload exists.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

# Set-ups per run after the one that launches the JVM. Each stops the
# session and builds it again, with a fresh import of the engine;
# setup_s is their median.
RESETUPS = 5
# A traced run needs a traced and an untraced timed pass.
MIN_PASSES = 2


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    # Lineitem rows the benchmark generates from the seed; 0 runs the
    # keys on the sf0.01 fixture that tools/selfcheck.py checks.
    generated_rows: int
    # Untimed passes between the cold pass and the timed ones.
    warmup_passes: int
    # Wall time of one timed pass at this tree on the 4-vCPU host of
    # README.md, measured on a slow stretch of the host; --seconds divided
    # by it is the number of timed passes, the run length.
    pass_s: float

    def timed_passes(self, seconds: float) -> int:
        return max(MIN_PASSES, round(seconds / self.pass_s))


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "scan_gen",
            ("q6", "q6_count", "q1_pricing_summary"),
            generated_rows=12_000_000,
            warmup_passes=3,
            pass_s=2.3,
        ),
        Workload(
            "registry_mix_sf0.01",
            (
                "q6",  # TPC-H Q6, the reference's query, bound by query start
                "q2_min_cost_supplier",  # TPC-H multi-join, register_views
                "text_unigram_lm_perplexity",  # text language model, persist
                "streaming_tumbling_counts",  # streaming, state store
                "udf_map_in_arrow",  # Python workers
                "sink_partitioned_parquet",  # writes beside reads
            ),
            generated_rows=0,
            warmup_passes=1,
            pass_s=6.5,
        ),
    )
}

# Files of generated lineitem; whole files pack into one task per core on
# a 4-core host.
GENERATED_FILES = 8


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(nproc: int) -> None:
    """Keep Spark's and Python's temporary files inside the checkout and run
    the engine with one task slot per core."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``), so the engine's Python workers, whose
    parent is the JVM, become children to wait for once the JVM ends."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me, out = os.getpid(), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(pid))
    return out


def _stop_processes(grace_s: float = 30.0) -> None:
    """End the JVM that PySpark launched and every process below this one,
    and wait until each has ended; what is left after ``grace_s`` is
    killed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # The JVM exits when its standard input ends; gateway.close() is
        # not called, as it blocks on the connections the callback server
        # of a streaming listener holds open.
        proc.stdin.close()
        try:
            proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame) -> None:
    raise SystemExit(128 + signum)


class Run:
    """One benchmark run: its session, registry, oracle and samples."""

    def __init__(self, workload: Workload, seed: int, nproc: int, tracer) -> None:
        from perfbench.metrics import Outcomes

        self.workload = workload
        self.seed = seed
        self.nproc = nproc
        self.tracer = tracer
        self.outcomes = Outcomes()
        self.keys = list(workload.keys)
        random.Random(seed).shuffle(self.keys)
        self.info: dict = {"workload": workload.name, "seed": seed, "key_order": self.keys}

    # -- inputs --------------------------------------------------------

    def make_inputs(self) -> None:
        rows = self.workload.generated_rows
        if not rows:
            import pyarrow.dataset as ds

            from perfbench.checks import load_selfcheck

            self.selfcheck = load_selfcheck(ROOT)
            self.data_dir = self.selfcheck.SF_DIR
            lineitem = os.path.join(self.data_dir, "lineitem.parquet")
            self.scan_rows = ds.dataset(lineitem).count_rows()
            return
        from perfbench.lineitem_gen import write_lineitem

        self.data_dir = os.path.join(WORK, f"data-{os.getpid()}")
        t0 = time.perf_counter()
        self.lineitem = write_lineitem(
            self.data_dir, rows, self.seed, GENERATED_FILES, self.nproc
        )
        self.scan_rows = rows
        os.sync()  # no write-back of the new files during the timed passes
        self.info.update(generated_rows=rows, gen_s=time.perf_counter() - t0)

    def drop_inputs(self) -> None:
        if self.workload.generated_rows:
            shutil.rmtree(self.data_dir, ignore_errors=True)

    # -- set-up --------------------------------------------------------

    def _setup_once(self) -> float:
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            from presto_truffle_spark.session import get_spark

            self.spark = get_spark("perfbench")
        if tr.installed:
            tr.wrap_engine_modules()
        with tr.span("registry.load_all_modules"):
            from presto_truffle_spark import registry

            registry.load_all_modules()
        self.queries = registry.get_queries()
        self.oracle_sql = registry.get_oracles()
        return time.perf_counter() - t0

    def setup(self) -> list[float]:
        """Launch the JVM with a first set-up, then set up ``RESETUPS``
        times more and return those times; the last session is the one
        measured."""
        launch_s = self._setup_once()
        samples = []
        for _ in range(RESETUPS):
            self.spark.stop()
            for name in [m for m in sys.modules if m.split(".")[0] == "presto_truffle_spark"]:
                del sys.modules[name]
            samples.append(self._setup_once())
        sc = self.spark.sparkContext
        self.info.update(
            nproc=sc.defaultParallelism,
            spark=self.spark.version,
            java=sc._jvm.java.lang.System.getProperty("java.version"),
            python=platform.python_version(),
            launch_setup_s=launch_s,
            setup_samples_s=samples,
        )
        return samples

    def build_oracle(self) -> None:
        from perfbench.checks import ExactOracle, TolerantOracle

        t0 = time.perf_counter()
        sqls = {k: self.oracle_sql[k] for k in self.workload.keys}
        if self.workload.generated_rows:
            self.oracle = TolerantOracle(self.lineitem, sqls)
        else:
            self.oracle = ExactOracle(self.selfcheck, self.data_dir, sqls)
        self.info["oracle_s"] = time.perf_counter() - t0

    # -- executions ----------------------------------------------------

    def execute(self, key: str, phase: str) -> float | None:
        """Build and collect one key; returns its latency if it succeeded
        and matched the oracle. The timer covers the query call and the
        action only."""
        tr = self.tracer
        fn = self.queries[key]
        df = rows = error = None
        with tr.execution(key, phase):
            t0 = time.perf_counter()
            try:
                with tr.span("operators.build"):
                    df = fn(self.spark, self.data_dir)
                t1 = time.perf_counter()
                tr.enter_action()
                with tr.span("action"):
                    rows = df.collect()
                t2 = time.perf_counter()
            except Exception:
                error = traceback.format_exc()
                print(f"{phase} {key} failed:\n{error}", file=sys.stderr)
        matched = False
        if error is None:
            tr.read_counters(df, t2 - t0, t2 - t1)
            try:
                matched = self.oracle.matches(key, df.columns, rows)
            except Exception:
                error = traceback.format_exc()
        ok = self.outcomes.record(key, error and error.strip().splitlines()[-1], matched)
        return t2 - t0 if ok else None

    def run_pass(self, phase: str) -> dict[str, float]:
        out = {}
        for key in self.keys:
            latency = self.execute(key, phase)
            if latency is not None:
                out[key] = latency
        return out

    def measure(self, seconds: float) -> dict:
        """Cold pass, untimed warm-up passes, then the timed passes. In a
        traced run the timed passes alternate traced, untraced."""
        tr = self.tracer
        t0 = time.perf_counter()
        self.info["cold_key_s"] = self.run_pass("cold")
        cold_pass_s = time.perf_counter() - t0
        for _ in range(self.workload.warmup_passes):
            self.run_pass("warmup")
        passes: list[tuple[bool, dict[str, float]]] = []
        pass_s = []
        t0 = time.perf_counter()
        for i in range(self.workload.timed_passes(seconds)):
            tr.enabled = tr.installed and i % 2 == 0
            t1 = time.perf_counter()
            passes.append((tr.enabled, self.run_pass("warm")))
            pass_s.append(time.perf_counter() - t1)
        tr.enabled = tr.installed
        self.info["timed_pass_s"] = pass_s
        self.info["measured_s"] = time.perf_counter() - t0
        return {"cold_pass_s": cold_pass_s, "passes": passes}

    def stop(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is not None:
            spark.stop()


def end_to_end(run: Run, setups: list[float], m: dict) -> dict[str, float]:
    from perfbench.metrics import tail

    missing = [k for k in run.keys if not any(k in p for _, p in m["passes"])]
    if missing:
        raise RuntimeError(f"no timed execution of {missing} succeeded")
    latencies = [v for _, p in m["passes"] for v in p.values()]
    tail_s, pct, beyond = tail(latencies)
    key_p50 = {
        k: statistics.median(p[k] for _, p in m["passes"] if k in p) for k in run.keys
    }
    run.info.update(
        samples=len(latencies),
        tail_percentile=pct,
        tail_samples_beyond=beyond,
        key_p50_s=key_p50,
        # the reference's own measure, lineitem rows over q6's latency; not
        # bounded, as on the mix its spread between runs reached the bound
        q6_scan_rows_per_s=run.scan_rows / key_p50["q6"],
    )
    return {
        "setup_s": statistics.median(setups),
        "query_p50_s": statistics.median(latencies),
        "query_tail_s": tail_s,
        "warm_pass_s": sum(key_p50.values()),
        "cold_pass_s": m["cold_pass_s"],
        "ok_share": run.outcomes.ok_share,
    }


def per_layer(run: Run, m: dict) -> dict[str, float]:
    tr = run.tracer
    out = tr.pass_metrics(run.keys)
    # the first set-up launched the JVM; setup_s leaves it out too
    get_spark = tr.setup_seconds("session.get_spark")
    out["session.get_spark_s"] = statistics.median(get_spark[1:])
    out["session.first_get_spark_s"] = get_spark[0]
    out["registry.load_all_modules_s"] = statistics.median(
        tr.setup_seconds("registry.load_all_modules")[1:]
    )
    out["cache.cached_bytes"] = tr.cached_bytes()
    traced = [v for on, p in m["passes"] if on for v in p.values()]
    untraced = [v for on, p in m["passes"] if not on for v in p.values()]
    out["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return out


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_share"):
        return "share"
    return "count"


def main(argv: list[str]) -> int:
    args = _parse(argv)
    for need in ("presto_truffle_spark/__init__.py", "tools/selfcheck.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"{need} is missing: run from a checkout of the repository", file=sys.stderr)
            return 2
    nproc = len(os.sched_getaffinity(0))
    _isolate(nproc)
    _adopt_orphans()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    sys.path.insert(0, ROOT)

    from perfbench.tracing import Tracer

    workload = WORKLOADS[args.workload]
    tracer = Tracer(nproc, installed=bool(args.trace))
    run = Run(workload, args.seed, nproc, tracer)
    try:
        run.make_inputs()
        setups = run.setup()
        if tracer.installed:
            tracer.attach(run.spark)
        run.build_oracle()
        m = run.measure(args.seconds)
        if args.trace:
            metrics = per_layer(run, m)
            tracer.write(
                os.path.join(WORK, "traces", f"{workload.name}-seed{args.seed}.json")
            )
        else:
            metrics = end_to_end(run, setups, m)
    finally:
        try:
            run.stop()
        finally:
            _stop_processes()
            run.drop_inputs()
            shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    run.info["failures"] = run.outcomes.failures
    print("info " + json.dumps(run.info))
    for name, value in metrics.items():
        print(f"{workload.name} {name} = {value:.6g} {_unit(name)}")
    print(
        json.dumps(
            {
                "correct": run.outcomes.failed == 0,
                "attempted": run.outcomes.attempted,
                "failed": run.outcomes.failed,
                "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
