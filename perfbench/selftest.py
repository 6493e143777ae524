"""Self-test of the benchmark on the small inputs.

    python3 perfbench/selftest.py

Runs every workload at scale factor 0.001, untraced and traced, with a
zero-second window (one cold pass plus the minimum warm passes), each
in a fresh process exactly as the driver runs ``run.py``. Checks that
every query passes its output check, that each run prints exactly the
metrics ``BENCHMARK.json`` names for its mode, each with its unit, and
that the traced run's wrappers fired on the layers each workload exists
to exercise. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: (workload, per-layer metric) pairs that must be positive.
MUST_FIRE = {
    "relational_ingest": (
        "catalog.table_calls", "roundtrip.calls", "streaming.materialize_calls",
    ),
    "llm_kernels": (
        "catalog.table_calls", "materialize.eager_truncate_calls",
        "partitioning.spread_calls", "operators.calls",
    ),
}


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, trace: int, declared: list[dict]) -> None:
    result = run(workload, trace)
    where = f"{workload} --trace {trace}"
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] > 0):
        raise AssertionError(f"{where}: queries failed: {result}")
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise AssertionError(f"{where}: metrics/units differ from BENCHMARK.json: "
                             f"missing {sorted(set(want) - set(got))}, "
                             f"extra {sorted(set(got) - set(want))}, "
                             f"units {[k for k in want if k in got and got[k] != want[k]]}")
    for name in MUST_FIRE[workload] if trace else ():
        if not result["metrics"][name]["value"] > 0:
            raise AssertionError(f"{where}: {name} is not positive; a wrapper did not fire")
    print(f"ok {where}: {result['attempted']} queries checked")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in (w["name"] for w in bench["workloads"]):
        check(w, 0, bench["end_to_end"])
        check(w, 1, bench["per_layer"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
