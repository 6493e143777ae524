"""Write ``perfbench/expected.json``: the row count and order-insensitive
hash of every workload query's correct output on the generated inputs,
at the timed scale factor and at the self-test's small one.

Each entry comes from the query's DuckDB oracle, run under DuckDB's
default memory limit. When an oracle cannot run, the entry instead
holds the engine's own output fingerprint and is marked
``self-consistency`` with the oracle's error as the reason.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.checks import fingerprint  # noqa: E402
from perfbench.workloads import SF, SMOKE_SF, WORK, WORKLOADS, data_dir, table_rows  # noqa: E402


def oracle_fingerprints(sf_dir: Path, names: list[str]) -> tuple[dict, dict]:
    """DuckDB fingerprints for ``names``; second dict maps failures to
    their error text."""
    from hadoop_release_spark.catalog import TABLES
    from hadoop_release_spark.plans.registry import specs

    spec = specs()
    con = duckdb.connect()
    # An oracle that spills must fail inside the work directory, not fill
    # the disk. The memory limit stays at DuckDB's default.
    con.execute(f"SET temp_directory = '{WORK / 'duckdb_tmp'}'")
    con.execute("SET max_temp_directory_size = '4GiB'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    done, failed = {}, {}
    for name in names:
        sql = spec[name].oracle
        if sql is None:
            failed[name] = "no oracle SQL registered"
            continue
        try:
            done[name] = fingerprint(con.execute(sql).df())
        except duckdb.Error as exc:
            failed[name] = f"{type(exc).__name__}: {str(exc).splitlines()[0]}"
        print(name, done.get(name, failed.get(name)), flush=True)
    con.close()
    return done, failed


def engine_fingerprints(sf_dir: Path, names: list[str]) -> dict:
    from hadoop_release_spark.plans.registry import all_queries
    from hadoop_release_spark.session import get_session

    spark = get_session()
    try:
        queries = all_queries()
        return {n: fingerprint(queries[n](spark, str(sf_dir)).toPandas()) for n in names}
    finally:
        spark.stop()


def build(sf: str) -> dict:
    sf_dir = data_dir(sf)
    names = [n for ids in WORKLOADS.values() for n in ids]
    done, failed = oracle_fingerprints(sf_dir, names)
    engine = engine_fingerprints(sf_dir, sorted(failed)) if failed else {}
    queries = {}
    for name in names:
        if name in done:
            rows, digest = done[name]
            queries[name] = {"rows": rows, "hash": digest, "source": "duckdb"}
        else:
            rows, digest = engine[name]
            queries[name] = {
                "rows": rows,
                "hash": digest,
                "source": "self-consistency",
                "reason": failed[name],
            }
    return {"inputs": table_rows(sf_dir), "queries": queries}


if __name__ == "__main__":
    out = HERE / "expected.json"
    spec = {sf: build(sf) for sf in (SF, SMOKE_SF)}
    out.write_text(json.dumps(spec, indent=1, sort_keys=True) + "\n")
    print("wrote", out)
