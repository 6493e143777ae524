"""Workload definitions and input generation for the benchmark.

Inputs are the repository's synthetic fixtures, generated by
``scripts/gen_sf.py`` (fixed generator seed 42, the driver fixture
schemas) into ``.perfbench_work/data`` at the root of the checkout. The
benchmark seed never changes the data; it only permutes the query order
of the passes after the cold one, so one set of expected outputs serves
every seed.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

#: The scale factor every timed run uses (600k lineitem rows).
SF = "0.1"
#: The self-test's scale factor (6k lineitem rows).
SMOKE_SF = "0.001"

#: Workload name -> registry ids, in the cold pass's order. The first id
#: is also the warm-up query that ends set-up, so one-time costs land in
#: set-up rather than in the cold pass: c13 plans the first joins, m07
#: starts the Python workers.
WORKLOADS: dict[str, list[str]] = {
    "relational_ingest": [
        "c13_join_star",
        "f02_topk_global",
        "a01_scan_parquet",
        "e45_changepoint",
        "a02_scan_csv_roundtrip",
        "c15_join_bucketed",
        "j01_stream_tumbling",
    ],
    "llm_kernels": [
        "m07_audio_fingerprint",
        "l26_corpus_pipeline",
        "m13_video_dup_survivors",
        "l08_knn_query",
        "i10_mr_pagerank",
    ],
}

#: Warm passes after the cold pass, unless the run's window ends first.
#: Every warm pass is measured, and a query's warm time is the median of
#: its warm samples. Pass times keep falling over the first repeats while
#: the JIT compiles (one relational_ingest run: 10.68 10.12 8.00 7.30
#: 7.62 7.50 s), and a single call can stall for seconds on a shared
#: host; the median of three drops the slowest sample either way. Three
#: passes keep a run near one minute, which 48 runs (4 + 22 per
#: workload) need to fit the benchmark's time budget. The window is wide
#: enough for all three on a slow host as well, so every run computes
#: the same statistic; a run with only two would keep the slow first
#: warm pass in a mean of two.
WARM_PASSES = 3
#: Warm passes that run even after the window has closed, so that every
#: query's warm median has at least two samples.
MIN_WARM_PASSES = 2


def data_dir(sf: str = SF) -> Path:
    """Generate (once per checkout) and return the fixture directory."""
    out = WORK / "data" / f"sf{sf}"
    if (out / "embeddings.parquet").exists():
        return out
    gen = ROOT / "scripts" / "gen_sf.py"
    if not gen.is_file():
        raise FileNotFoundError(f"input generator missing: {gen}")
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, str(gen), sf, str(tmp)],
        check=True,
        stdout=subprocess.DEVNULL,
    )
    try:
        tmp.rename(out)
    except OSError:
        # Another run generated the same directory first.
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def table_rows(sf_dir: Path) -> dict[str, int]:
    """Row count of every generated table (from parquet footers)."""
    return {
        p.stem: pq.ParquetFile(p).metadata.num_rows
        for p in sorted(sf_dir.glob("*.parquet"))
    }
