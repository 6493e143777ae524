"""Property-based Spark↔DuckDB parity for the scalar-function matrix.

Random inputs flow through BOTH engines; the §2 contract-safety rules
(dayofweek offset, datediff argument order, truncate-vs-round casts,
decimal-sum determinism) are pinned here as executable facts rather
than lore. Batched: hypothesis generates whole column batches, one
Spark job + one DuckDB query per example (per-row examples would cost
a Spark job each).
"""

from __future__ import annotations

import datetime

import duckdb
import pandas as pd
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tests._harness import canon

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# 2dp-quantized doubles — the fixture measure domain.
money = st.integers(min_value=-10_000_00, max_value=10_000_00).map(lambda c: c / 100.0)
keys = st.integers(min_value=1, max_value=10**9)
dates = st.dates(min_value=datetime.date(1990, 1, 1), max_value=datetime.date(2035, 12, 31))
words = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="'\"\\"),
    min_size=0,
    max_size=24,
)


def _both(spark, pdf: pd.DataFrame, spark_exprs: list[str], duck_sql: str):
    sdf = spark.createDataFrame(pdf)
    a = sdf.selectExpr(*spark_exprs).toPandas()
    con = duckdb.connect()
    con.register("t", pdf)
    b = con.execute(duck_sql).df()
    con.close()
    a, b = a[sorted(a.columns)], b[sorted(b.columns)]
    ra = sorted(tuple(canon(v) for v in r) for r in a.itertuples(index=False, name=None))
    rb = sorted(tuple(canon(v) for v in r) for r in b.itertuples(index=False, name=None))
    assert ra == rb, f"\nspark : {ra[:3]}\noracle: {rb[:3]}"


@settings(**_SETTINGS)
@given(st.lists(st.tuples(keys, money), min_size=1, max_size=50))
def test_math_family_parity(spark, rows):
    pdf = pd.DataFrame(rows, columns=["k", "x"])
    _both(
        spark,
        pdf,
        [
            "k",
            "CAST(floor(x) AS DOUBLE) AS fl",
            "CAST(ceil(x) AS DOUBLE) AS ce",
            "abs(x) AS ab",
            "CAST(sign(x) AS BIGINT) AS sg",
            "pmod(k, 7) AS m7",
            "sqrt(abs(x)) AS sq",
        ],
        """SELECT k, floor(x) AS fl, ceil(x) AS ce, abs(x) AS ab,
                  CAST(sign(x) AS BIGINT) AS sg, k % 7 AS m7,
                  sqrt(abs(x)) AS sq FROM t""",
    )


@settings(**_SETTINGS)
@given(st.lists(st.tuples(keys, dates), min_size=1, max_size=50, unique_by=lambda r: r[0]))
def test_date_family_parity(spark, rows):
    # Rule 8 (dayofweek+1) and rule 9 (datediff argument order).
    pdf = pd.DataFrame(rows, columns=["k", "d"])
    pdf["d"] = pd.to_datetime(pdf["d"])
    _both(
        spark,
        pdf,
        [
            "k",
            "CAST(year(d) AS BIGINT) AS y",
            "CAST(month(d) AS BIGINT) AS mo",
            "CAST(dayofweek(d) AS BIGINT) AS dow",
            "CAST(datediff(DATE '2030-01-01', CAST(d AS DATE)) AS BIGINT) AS dd",
            "date_format(d, 'yyyy-MM-dd') AS iso",
        ],
        """SELECT k, year(d) AS y, month(d) AS mo,
                  (dayofweek(d) + 1) AS dow,
                  date_diff('day', CAST(d AS DATE), DATE '2030-01-01') AS dd,
                  strftime(d, '%Y-%m-%d') AS iso FROM t""",
    )


@settings(**_SETTINGS)
@given(st.lists(st.tuples(keys, words), min_size=1, max_size=50, unique_by=lambda r: r[0]))
def test_string_family_parity(spark, rows):
    pdf = pd.DataFrame(rows, columns=["k", "s"])
    _both(
        spark,
        pdf,
        [
            "k",
            "upper(s) AS up",
            "lower(s) AS lo",
            "CAST(length(s) AS BIGINT) AS len",
            "reverse(s) AS rev",
            "substring(s, 2, 3) AS sub",
            "concat(s, '#', s) AS cc",
            "trim(s) AS tr",
        ],
        """SELECT k, upper(s) AS up, lower(s) AS lo, length(s) AS len,
                  reverse(s) AS rev, substring(s, 2, 3) AS sub,
                  concat(s, '#', s) AS cc, trim(s) AS tr FROM t""",
    )


@settings(**_SETTINGS)
@given(st.lists(money, min_size=1, max_size=200))
def test_decimal_sum_determinism(spark, xs):
    # The dsum contract: exact decimal accumulation must agree for any
    # 2dp input multiset, including adversarial orderings.
    pdf = pd.DataFrame({"x": xs})
    _both(
        spark,
        pdf,
        ["CAST(round(sum(CAST(x AS DECIMAL(25,8))), 4) AS DOUBLE) AS s"],
        "SELECT CAST(round(sum(CAST(x AS DECIMAL(25,8))), 4) AS DOUBLE) AS s FROM t",
    )


@settings(**_SETTINGS)
@given(st.lists(st.tuples(keys, money), min_size=2, max_size=100))
@example([(1, 0.0), (1, 3806.5)])
@example([(1, 0.0), (1, 2.5)])
@example([(1, 0.0), (1, -0.5)])
@example([(1, 0.0), (1, 3807.5)])
def test_truncating_cast_rule(spark, rows):
    # Rule 7: bare double→int casts DIVERGE (Spark truncates, DuckDB
    # rounds); the contract-safe floor() form must agree. Pin both.
    pdf = pd.DataFrame(rows, columns=["k", "x"])
    sdf = spark.createDataFrame(pdf)
    spark_floor = sdf.selectExpr("floor(x) AS f").toPandas()["f"].tolist()
    con = duckdb.connect()
    con.register("t", pdf)
    duck_floor = [r[0] for r in con.execute("SELECT floor(x) FROM t").fetchall()]
    duck_cast = [r[0] for r in con.execute("SELECT CAST(x AS BIGINT) FROM t").fetchall()]
    con.close()
    assert [float(v) for v in spark_floor] == [float(v) for v in duck_floor]
    # DuckDB 1.0.0's cast ROUNDS, exact halves to even; it differs
    # from floor exactly when x - floor(x) > 0.5, or == 0.5 with
    # floor(x) odd (floor(-1.2) = -2 vs round = -1; 3806.5 → 3806 and
    # 2.5 → 2 agree with floor, -0.5 → 0 and 3807.5 → 3808 do not).
    import math

    diverges = any(f != c for f, c in zip(duck_floor, duck_cast) if c is not None)
    frac = [(x - math.floor(x), math.floor(x)) for _, x in rows]
    should_diverge = any(fr > 0.5 or (fr == 0.5 and fl % 2) for fr, fl in frac)
    assert diverges == should_diverge
