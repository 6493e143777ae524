"""Fresh-process benchmark of the query engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run is one fresh process, driven like the grading driver drives the
engine: one closed-loop client on the driver thread, which issues the
next registry query only after the previous ``toPandas()`` returned.

1. Set-up: build the session through ``session.get_session``, load the
   registry through ``all_queries()``, run the workload's first query.
2. Cold pass: every workload query once, in the workload's listed order,
   the way the grading driver always runs its fixed order.
3. Up to :data:`~perfbench.workloads.WARM_PASSES` measured warm passes,
   each in an order the seed permutes. After the first
   :data:`~perfbench.workloads.MIN_WARM_PASSES`, a pass starts only if it
   is expected to fit in the ``--seconds`` window that starts after
   set-up. A query's warm time is the median of its warm samples.
4. Every output is checked against ``perfbench/expected.json``.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` layer functions are wrapped in spans
(``perfbench/tracing.py``) and the metrics are the per-layer split.
Lines before it are human-readable detail. Each run works in its own
scratch root under ``.perfbench_work/runs`` (Spark local dirs, the
engine's ``SPARK_GRAFT_TMP``, the working directory), which it deletes
at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

_T0 = time.perf_counter()

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.checks import fingerprint  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    MIN_WARM_PASSES, SF, SMOKE_SF, WARM_PASSES, WORK, WORKLOADS, data_dir, table_rows,
)

#: Warm samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10
#: Number of the first warm pass (0 is the warm-up query, 1 the cold pass).
FIRST_WARM = 2


def process_age_s() -> float:
    """Seconds since this process started (falls back to module load)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.perf_counter() - _T0


def peak_rss_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_mb(path: Path) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                pass
    return total / 2**20


def tail(samples: list[float]) -> tuple[float, float]:
    """``(value, percentile)`` of the highest percentile that still has
    :data:`TAIL_BEYOND` samples above it (the maximum when too few)."""
    ordered = sorted(samples)
    k = max(len(ordered) - TAIL_BEYOND - 1, 0)
    if len(ordered) <= TAIL_BEYOND:
        k = len(ordered) - 1
    return ordered[k], 100.0 * (k + 1) / len(ordered)


def isolate(run_root: Path) -> None:
    """Per-run environment; must run before the JVM starts."""
    tmp, local = run_root / "graft_tmp", run_root / "spark_local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    os.environ["SPARK_GRAFT_TMP"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # Python workers import kernels from the package by name.
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.chdir(run_root)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


class Run:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.ids = WORKLOADS[args.workload]
        spec = json.loads((HERE / "expected.json").read_text())[args.sf]
        self.expected = spec["queries"]
        missing = [n for n in self.ids if n not in self.expected]
        if missing:
            raise KeyError(f"no expected output for {missing}")
        gen_t = time.perf_counter()
        self.sf_dir = str(data_dir(args.sf))
        self.gen_s = time.perf_counter() - gen_t
        if table_rows(Path(self.sf_dir)) != spec["inputs"]:
            raise RuntimeError(f"generated inputs under {self.sf_dir} differ from expected.json")
        self.rng = random.Random(args.seed)
        self.tracer = None
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.trace_rows: list[dict] = []
        self.per_query: dict[str, list[float]] = {}

    # -- one query -----------------------------------------------------
    def query(self, name: str, pass_no: int, traced: bool) -> float:
        """Run, time and check one query; return its wall seconds."""
        fn = self.queries[name]
        self.attempted += 1
        tracer = self.tracer if traced else None
        before_mb = dir_mb(Path(os.environ["SPARK_GRAFT_TMP"])) if tracer else 0.0
        root = tracer.begin_query(f"{pass_no}:{name}") if tracer else None
        df = pdf = None
        t0 = time.perf_counter()
        try:
            if tracer:
                span = tracer.open("registry.call")
            try:
                df = fn(self.spark, self.sf_dir)
            finally:
                if tracer:
                    tracer.close(span)
            build_end = time.time_ns()
            if tracer:
                span = tracer.open("transfer.toPandas")
            try:
                pdf = df.toPandas()
            finally:
                if tracer:
                    tracer.close(span)
        except Exception as exc:  # a failing query is counted, not fatal
            self.failures.append((name, f"{type(exc).__name__}: {str(exc).splitlines()[0][:200]}"))
        wall = time.perf_counter() - t0
        if tracer:
            tracer.end_query(root)
        if pdf is not None:
            got = fingerprint(pdf)
            want = (self.expected[name]["rows"], self.expected[name]["hash"])
            if got != want:
                self.failures.append((name, f"output {got} != expected {want}"))
        if tracer and df is not None:
            row = tracer.collect_spark(self.spark, root, build_end, df)
            row.update(query=name, pass_no=pass_no, wall_s=wall,
                       result_rows=len(pdf) if pdf is not None else 0,
                       scratch_mb_written=dir_mb(Path(os.environ["SPARK_GRAFT_TMP"])) - before_mb)
            row["self"], row["covered"] = tracer.self_times(root["trace"])
            self.trace_rows.append(row)
        return wall

    def one_pass(self, pass_no: int, traced: bool) -> tuple[float, list[float]]:
        order = list(self.ids)
        if pass_no > 1:
            self.rng.shuffle(order)
        times = []
        for name in order:
            times.append(self.query(name, pass_no, traced))
            self.per_query.setdefault(name, []).append(times[-1])
        return sum(times), times

    # -- the run -------------------------------------------------------
    def execute(self) -> dict:
        args = self.args
        run_root = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        shutil.rmtree(run_root, ignore_errors=True)
        isolate(run_root)
        try:
            return self._execute(run_root)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_root, ignore_errors=True)

    def _execute(self, run_root: Path) -> dict:
        args = self.args
        if args.trace:
            from perfbench.tracing import Tracer

            self.tracer = Tracer()
            self.tracer.install()
        from hadoop_release_spark.session import get_session

        t = time.perf_counter()
        self.spark = get_session(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t
        try:
            from hadoop_release_spark.plans.registry import all_queries

            self.queries = all_queries()
            if self.tracer:
                self.tracer.enabled = True
            self.query(self.ids[0], 0, traced=bool(self.tracer))
            setup_s = process_age_s() - self.gen_s
            window_start = time.perf_counter()

            cold_s, _ = self.one_pass(1, traced=bool(self.tracer))
            warm: list[tuple[float, list[float], bool]] = []
            pass_no, last = FIRST_WARM, cold_s
            while len(warm) < MIN_WARM_PASSES or (
                len(warm) < WARM_PASSES
                and time.perf_counter() - window_start + last <= args.seconds
            ):
                # Warm passes alternate traced and untraced.
                traced = bool(self.tracer) and len(warm) % 2 == 0
                if self.tracer:
                    self.tracer.enabled = traced
                t = time.perf_counter()
                total, times = self.one_pass(pass_no, traced)
                last = time.perf_counter() - t
                warm.append((total, times, traced))
                pass_no += 1
            tmp_mb = dir_mb(Path(os.environ["SPARK_GRAFT_TMP"]))
            rss = peak_rss_mb(self.spark.sparkContext._gateway.proc.pid) + peak_rss_mb("self")
        finally:
            stop_spark(self.spark)
        passes = pass_no - 1
        print(f"workload {args.workload}: seed {args.seed}, setup {setup_s:.2f} s, "
              f"cold pass {cold_s:.2f} s, warm passes "
              f"{' '.join(f'{t:.2f}' for t, _, _ in warm)} s, "
              f"{tmp_mb:.1f} MB left under SPARK_GRAFT_TMP after the warm-up and {passes} passes")
        warm_median = {name: statistics.median(self.per_query[name][1:]) for name in self.ids}
        for name in self.ids:
            print(f"  {name}: cold {self.per_query[name][0]:.3f} s, warm median "
                  f"{warm_median[name]:.3f} s over {len(self.per_query[name]) - 1}")
        samples = [t for _, times, _ in warm for t in times]
        tail_s, pct = tail(samples)
        print(f"warm query p50 {statistics.median(samples):.3f} s, tail {tail_s:.3f} s "
              f"at p{pct:.1f} of {len(samples)} samples; driver peak RSS {rss:.0f} MB")
        if self.tracer:
            return self.layer_metrics(warm, session_s, tmp_mb / passes, rss)
        return {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold_s, "s"),
            "warm_pass_s": (sum(warm_median.values()), "s"),
        }

    def layer_metrics(self, warm, session_s, retained_mb, rss) -> dict:
        traced = [t for t, _, on in warm if on]
        untraced = [t for t, _, on in warm if not on]
        rows = [r for r in self.trace_rows if r["pass_no"] >= FIRST_WARM]
        n_pass = len({r["pass_no"] for r in rows})

        def per_pass(key) -> float:
            return sum(r[key] for r in rows) / n_pass

        def spans(prefix):
            return [
                s for s in self.tracer.spans
                if s["name"].startswith(prefix) and int(s["trace"].split(":")[0]) >= FIRST_WARM
            ]

        def calls(prefix) -> float:
            return len(spans(prefix)) / n_pass

        def secs(prefix) -> float:
            return sum(s["end"] - s["start"] for s in spans(prefix)) / 1e9 / n_pass

        def outer_secs(prefix) -> float:
            """Seconds in ``prefix`` spans not nested in another one."""
            chosen = spans(prefix)
            ids = {s["id"] for s in chosen}
            return sum(
                s["end"] - s["start"] for s in chosen if s["parent"] not in ids
            ) / 1e9 / n_pass

        def ratio(prefix, attr) -> float:
            chosen = spans(prefix)
            return sum(bool(s["attrs"].get(attr)) for s in chosen) / len(chosen) if chosen else 0.0

        self_s: dict[str, float] = {}
        for r in rows:
            for layer, v in r["self"].items():
                self_s[layer] = self_s.get(layer, 0.0) + v / n_pass
        m = {
            "session.get_session_s": (session_s, "s"),
            "memory.driver_peak_rss_mb": (rss, "MB"),
            "registry.call_s": (secs("registry.call"), "s"),
            "registry.build_jobs": (per_pass("build_jobs"), "count"),
            "registry.persisted_rdds_left": (per_pass("persisted_rdds_left"), "count"),
            "catalog.table_calls": (calls("catalog.table"), "count"),
            "catalog.table_s": (secs("catalog.table"), "s"),
            "catalog.memo_hit_ratio": (ratio("catalog.table", "hit"), "ratio"),
            "catalyst.analysis_s": (per_pass("analysis_s"), "s"),
            "catalyst.optimization_s": (per_pass("optimization_s"), "s"),
            "catalyst.planning_s": (per_pass("planning_s"), "s"),
            "operators.calls": (calls("operators."), "count"),
            "operators.driver_s": (outer_secs("operators."), "s"),
            "operators.python_worker_s": (per_pass("python_worker_s"), "s"),
            "operators.python_sent_mb": (per_pass("python_sent_mb"), "MB"),
            "materialize.eager_truncate_calls": (calls("materialize.eager_truncate"), "count"),
            "materialize.eager_truncate_s": (secs("materialize.eager_truncate"), "s"),
            "partitioning.spread_calls": (calls("partitioning.spread_small_scan"), "count"),
            "partitioning.spread_s": (secs("partitioning.spread_small_scan"), "s"),
            "partitioning.spread_fired_ratio": (
                ratio("partitioning.spread_small_scan", "fired"), "ratio"),
            "roundtrip.calls": (calls("roundtrip."), "count"),
            "roundtrip.s": (outer_secs("roundtrip."), "s"),
            "roundtrip.scratch_mb_written": (per_pass("scratch_mb_written"), "MB"),
            "roundtrip.scratch_mb_retained": (retained_mb, "MB"),
            "streaming.materialize_calls": (calls("streaming.materialize"), "count"),
            "streaming.materialize_s": (secs("streaming.materialize"), "s"),
            "transfer.tail_s": (per_pass("transfer_tail_s"), "s"),
            "transfer.result_rows": (per_pass("result_rows"), "count"),
            "trace.overhead_frac": (
                statistics.median(traced) / statistics.median(untraced) - 1, "ratio"),
            "trace.covered_frac": (statistics.mean(r["covered"] for r in rows), "ratio"),
        }
        for key in ("jobs", "stages", "tasks"):
            m[f"spark.{key}"] = (per_pass(key), "count")
        for key in ("driver_gap_s", "executor_run_s", "executor_cpu_s"):
            m[f"spark.{key}"] = (per_pass(key), "s")
        for key in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb", "output_mb"):
            m[f"spark.{key}"] = (per_pass(key), "MB")
        for layer in SELF_LAYERS:
            m[f"self.{layer}_s"] = (self_s.get(layer, 0.0), "s")
        self.write_trace()
        return m

    def write_trace(self) -> None:
        out = WORK / "traces"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"{self.args.workload}-seed{self.args.seed}.json"
        path.write_text(json.dumps({"queries": self.trace_rows, "spans": self.tracer.spans}))
        print(f"trace written to {path.relative_to(ROOT)}")
        for r in self.trace_rows:
            if r["pass_no"] >= FIRST_WARM:
                split = ", ".join(f"{k} {v:.3f}" for k, v in sorted(r["self"].items()))
                print(f"  pass {r['pass_no']} {r['query']}: wall {r['wall_s']:.3f} s; self: {split}")


#: Layers whose self time the traced run reports.
SELF_LAYERS = (
    "registry", "transfer", "catalog", "operators", "materialize",
    "partitioning", "roundtrip", "streaming", "spark.job", "spark.stage",
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", choices=(SF, SMOKE_SF), default=SF,
                   help="input scale factor (the small one is for perfbench/selftest.py)")
    args = p.parse_args(argv)
    # A terminated run still stops its JVM and deletes its scratch root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    metrics = run.execute()
    for name, cause in run.failures:
        print(f"FAILED {name}: {cause}")
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
