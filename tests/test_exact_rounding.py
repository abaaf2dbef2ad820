"""Property test for ``functions/exact.py``'s rounding: the floor/ceil
fragment equals ``round(v)`` in Spark and in DuckDB on adversarial
doubles (ties, near-ties, signed zeros, 2**52 +- 0.5, huge, NaN, +-inf)
and on DECIMAL and INT inputs; the money builders equal their old
``round`` spelling; the numpy twin equals both engines' ``round`` on
non-negative finite doubles."""

from __future__ import annotations

import math
import random

import duckdb
import numpy as np
import pytest

from iceberg_examples_spark.functions.exact import (
    _round_sql,
    money_avg_sql,
    money_cents_sql,
    money_sum_sql,
    round_half_up_np,
)


def _adversarial_doubles() -> list[float]:
    rng = random.Random(20261019)
    out = [0.0, -0.0, 0.49999999999999994, -0.49999999999999994,
           0.5000000000000001, -0.5000000000000001,
           2.0**52 - 0.5, -(2.0**52 - 0.5), 2.0**52 + 1, -(2.0**52 + 1),
           2.0**53 + 2, 1e300, -1e300, 5e-324, -5e-324,
           math.inf, -math.inf, math.nan]
    ks = list(range(-60, 60))
    ks += [rng.randrange(-(2**51), 2**51) for _ in range(200)]
    for k in ks:
        tie = k + 0.5
        out += [tie, math.nextafter(tie, math.inf),
                math.nextafter(tie, -math.inf)]
    for _ in range(200):
        e = rng.uniform(-12, 18)
        out.append(rng.choice([-1, 1]) * 10**e)
        out.append(rng.randrange(-10**9, 10**9) / 100)  # 2-dp money
    return out


DOUBLES = _adversarial_doubles()
DECIMALS = [n / 10**4 for n in range(-25_000, 25_001, 37)] + [2.5, -2.5]
INTS = [float(n) for n in range(-500, 501, 7)]
CASES = [("double", DOUBLES), ("decimal(18,4)", DECIMALS), ("int", INTS)]


def _same(a, b) -> bool:
    """Null-safe equality with NaN equal to NaN."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
    return a == b


def _pairs_sql(table: str, typ: str) -> str:
    v = f"(cast(x as {typ}))"
    return f"SELECT x, {_round_sql(v)} AS got, round({v}) AS want FROM {table}"


def _mismatches(rows) -> list:
    return [r for r in rows if not _same(r[1], r[2])]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    yield con
    con.close()


def _duck_table(con, name: str, values) -> None:
    """Table ``name(x DOUBLE)`` holding ``values`` and one NULL."""
    con.execute(f"CREATE OR REPLACE TABLE {name} (x DOUBLE)")
    con.executemany(
        f"INSERT INTO {name} VALUES (?)", [(x,) for x in values] + [(None,)]
    )


@pytest.fixture(scope="module")
def spark_views(spark):
    """Temp views ``exact_rounding_<kind>(i long, x double)``, one per input
    set, each holding its values in order and one NULL; built once."""
    sets = {typ: values for typ, values in CASES} | {"money": MONEY}
    views = {}
    for kind, values in sets.items():
        name = "exact_rounding_" + kind.split("(")[0]
        spark.createDataFrame(
            list(enumerate(values + [None])), "i long, x double"
        ).createOrReplaceTempView(name)
        views[kind] = name
    return views


@pytest.mark.parametrize("typ,values", CASES, ids=[c[0] for c in CASES])
def test_fragment_equals_round_duckdb(duck, typ, values):
    _duck_table(duck, "t", values)
    rows = duck.execute(_pairs_sql("t", typ)).fetchall()
    assert len(rows) == len(values) + 1
    assert _mismatches(rows) == []


@pytest.mark.parametrize("typ,values", CASES, ids=[c[0] for c in CASES])
def test_fragment_equals_round_spark(spark, spark_views, typ, values):
    rows = [tuple(r) for r in spark.sql(
        _pairs_sql(spark_views[typ], typ)).collect()]
    assert len(rows) == len(values) + 1
    assert _mismatches(rows) == []


OLD_CENTS = "cast(round(({e}) * {s}) as bigint)"
OLD_SUM = f"cast(sum({OLD_CENTS}) as double) / {{s}}.0"
OLD_AVG = f"{OLD_SUM} / cast(count({{e}}) as double)"
MONEY = [n / 100 for n in range(-20_000, 20_001, 37)] + [0.005, 1.005, -2.675]


def _builder_pairs() -> list[tuple[str, str]]:
    """(builder, old spelling) as aggregates; the row-level cents form is
    compared through its exact sum."""
    out = []
    for e in ("x", "x * (1 - 0.07)", "x * x"):
        for s in (100, 10000):
            out += [
                (f"sum({money_cents_sql(e, s)})",
                 f"sum({OLD_CENTS.format(e=e, s=s)})"),
                (money_sum_sql(e, s), OLD_SUM.format(e=e, s=s)),
                (money_avg_sql(e, s), OLD_AVG.format(e=e, s=s)),
            ]
    return out


def _builder_rows(run, table: str) -> list[tuple]:
    cols = ", ".join(f"{new}, {old}" for new, old in _builder_pairs())
    rows = run(
        f"SELECT g, {cols} FROM (SELECT x, abs(floor(x)) % 7 AS g"
        f" FROM {table}) GROUP BY g ORDER BY g"
    )
    assert len(rows) == 8  # groups 0..6 and the NULL row's group
    return rows


def _assert_builders_match(rows) -> None:
    for r in rows:
        for i, (new, _) in enumerate(_builder_pairs()):
            got, want = r[1 + 2 * i], r[2 + 2 * i]
            assert _same(got, want), (r[0], new, got, want)


def test_builders_match_old_spelling(spark, spark_views, duck):
    _duck_table(duck, "money", MONEY)
    _assert_builders_match(
        _builder_rows(lambda q: duck.execute(q).fetchall(), "money")
    )
    _assert_builders_match(_builder_rows(
        lambda q: [tuple(r) for r in spark.sql(q).collect()],
        spark_views["money"],
    ))


def test_numpy_twin_equals_round(spark, spark_views, duck):
    finite = [abs(x) for x in DOUBLES if math.isfinite(x)]
    got = round_half_up_np(np.array(finite, dtype=np.float64))
    _duck_table(duck, "t", DOUBLES)
    duck_want = duck.execute(
        "SELECT round(abs(x)) FROM t WHERE isfinite(x) ORDER BY rowid"
    ).fetchall()
    spark_want = spark.sql(
        f"SELECT round(abs(x)) FROM {spark_views['double']}"
        " WHERE abs(x) < double('inf') ORDER BY i"
    ).collect()
    for want in (duck_want, spark_want):
        want = np.array([r[0] for r in want], dtype=np.float64)
        assert np.array_equal(got, want)
    # the kernel's old trunc(v + 0.5) gave 1 here; round gives 0
    assert round_half_up_np(np.float64(0.49999999999999994)) == 0.0
