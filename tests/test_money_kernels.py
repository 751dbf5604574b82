"""The two money kernels of ``queries/_util.py``, and the rule that every
money site in the query registry uses them.

- ``cents(x)`` is bit-identical to ``F.round(x * 100, 0).cast("long")``
  for every double: exact ties, negatives, ±0, NaN, ±inf, null,
  0.49999999999999994 and magnitudes past 2**52, not only for data
  that is exact at scale 2.
- ``isum(c)`` equals ``sum(cast(c as decimal(38,0)))`` for any int64
  values (nulls, all-null groups, the empty frame), and a group past
  its row bound raises instead of wrapping or returning NULL.
- No query module outside ``_util.py`` rounds ``x * 100`` with
  ``F.round`` or sums a ``decimal(25,0)`` cast.
"""

from __future__ import annotations

import ast
import glob
import math
import os
import random
import struct
from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F

from pygdf_spark.queries import _util
from pygdf_spark.queries._util import cents, isum, pin_session_confs

QUERIES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "pygdf_spark", "queries",
)


def _doubles(n: int, seed: int = 7) -> list:
    rng = random.Random(seed)
    edge = [
        0.0, -0.0, math.nan, math.inf, -math.inf, None,
        0.49999999999999994, -0.49999999999999994, 0.005, -0.005,
        0.015, 1.005, -1.005, 2.675, 0.5, -0.5, 1.5, -2.5,
        2.0 ** 52, 2.0 ** 52 + 1, -(2.0 ** 52) - 1, 2.0 ** 53, 2.0 ** 62,
        (2.0 ** 52 - 1) / 100, (2.0 ** 51 + 0.5) / 100, 4503599627370495.5,
        92233720368547758.07, -92233720368547758.08, 1e300, -1e300,
        5e-324, 1.7976931348623157e308,
    ]
    out = list(edge)
    while len(out) < n:
        kind = rng.randrange(5)
        if kind == 0:    # exact ties at *100: (k + 0.5) / 100
            out.append((rng.randint(-10 ** 9, 10 ** 9) + 0.5) / 100)
        elif kind == 1:  # money at scale 2
            out.append(rng.randint(-10 ** 9, 10 ** 9) / 100)
        elif kind == 2:  # arbitrary fractions
            out.append(rng.uniform(-1e6, 1e6))
        elif kind == 3:  # around and past 2**52 / 100
            out.append(rng.uniform(-1, 1) * 2.0 ** rng.randint(40, 70))
        else:            # any bit pattern: subnormals, NaN payloads, huge
            out.append(struct.unpack("<d", rng.getrandbits(64).to_bytes(8, "little"))[0])
    return out


def test_cents_matches_round_for_every_double(spark):
    pin_session_confs(spark)
    xs = _doubles(10_000)
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    v = F.col("x") * 100
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (~cents("x").eqNullSafe(F.round(v, 0).cast("long"))).cast("int")
        ).alias("mismatches"),
        F.sum((F.abs(v) - F.floor(F.abs(v)) == 0.5).cast("int")).alias("ties"),
        F.sum(F.isnan("x").cast("int")).alias("nans"),
    ).first()
    assert row["n"] == len(xs)
    assert row["mismatches"] == 0
    # the draw really holds ties and NaNs, so the check is not vacuous
    assert row["ties"] > 1000 and row["nans"] >= 1


def _half_away(x):
    """Python reference: the exact double ``x * 100`` rounded half away
    from zero, cast as Spark casts a double to long (non-ANSI)."""
    if x is None:
        return None
    v = x * 100
    if math.isnan(v):
        return 0
    if math.isinf(v):
        return 2 ** 63 - 1 if v > 0 else -(2 ** 63)
    r = int(Decimal(v).to_integral_value(ROUND_HALF_UP))
    return max(-(2 ** 63), min(2 ** 63 - 1, r))


def test_cents_edge_values(spark):
    pin_session_confs(spark)
    xs = [0.49999999999999994, 0.005, -0.005, 0.025, -0.025, 1.005, -0.0,
          0.0, 2.0 ** 52, 2.0 ** 52 + 1, 4503599627370495.5 / 100, 1e300,
          math.nan, math.inf, -math.inf, None]
    got = [r[0] for r in spark.createDataFrame([(x,) for x in xs], "x double")
           .select(cents("x")).collect()]
    assert got == [_half_away(x) for x in xs]
    assert got[-4:] == [0, 2 ** 63 - 1, -(2 ** 63), None]


def _int64s(rng: random.Random) -> int | None:
    kind = rng.randrange(4)
    if kind == 0:
        return None
    if kind == 1:
        return rng.randint(2 ** 62 - 2 ** 40, 2 ** 62)
    if kind == 2:
        return -rng.randint(2 ** 62 - 2 ** 40, 2 ** 62)
    return rng.randint(-(2 ** 63), 2 ** 63 - 1)


def test_isum_equals_decimal_sum(spark):
    pin_session_confs(spark)
    rng = random.Random(11)
    rows = [(rng.randrange(8), _int64s(rng)) for _ in range(4000)]
    rows += [(8, None)] * 5              # an all-null group
    rows += [(9, 2 ** 63 - 1)] * 300     # one lane-filling group
    rows += [(10, -(2 ** 63))] * 300
    df = spark.createDataFrame(rows, "g int, v long").repartition(4)
    got = df.groupBy("g").agg(
        isum("v").alias("s"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("ref"),
    ).orderBy("g").collect()
    assert len(got) == 11
    for r in got:
        assert r["s"] == r["ref"], r["g"]
        vals = [v for g, v in rows if g == r["g"] and v is not None]
        assert r["s"] == (Decimal(sum(vals)) if vals else None)
    # past int64: the sums really needed more than one long
    assert any(abs(r["s"]) > 2 ** 63 for r in got if r["s"] is not None)
    assert dict(df.dtypes)["v"] == "bigint"
    assert df.select(isum("v")).schema[0].dataType.simpleString() == "decimal(38,0)"


def test_isum_empty_frame(spark):
    df = spark.createDataFrame([], "g int, v long")
    assert df.agg(isum("v").alias("s")).collect()[0]["s"] is None
    assert df.groupBy("g").agg(isum("v")).collect() == []


def test_isum_lane_overflow_raises(spark, monkeypatch):
    """62-bit low lanes cap a group at 2 rows: three values of
    2**62 - 1 would overflow the low lane's long, so the group raises;
    two still sum exactly."""
    pin_session_confs(spark)
    monkeypatch.setattr(_util, "_ISUM_LANE_BITS", 62)
    big = 2 ** 62 - 1
    two = spark.createDataFrame([(big,), (big,)], "v long")
    assert two.agg(isum("v")).collect()[0][0] == Decimal(2 * big)
    three = spark.createDataFrame([(big,)] * 3, "v long")
    with pytest.raises(Exception, match="isum"):
        three.agg(isum("v")).collect()


# --- one kernel per money site ------------------------------------------

def _is_dec_call(node) -> bool:
    return (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == "dec")


def money_violations(src: str) -> list[str]:
    """Money sites that bypass the kernels: ``F.round(<x> * 100 ...)``
    on a double (``dec(...)`` operands round in exact decimal and are
    not the cents idiom) and an ``F.sum`` over a ``decimal(25,0)``
    cast."""
    out = []
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.Call):
            continue
        fn = ast.unparse(node.func)
        if fn == "F.round" and node.args:
            a = node.args[0]
            if (isinstance(a, ast.BinOp) and isinstance(a.op, ast.Mult)
                    and any(isinstance(o, ast.Constant) and o.value == 100
                            for o in (a.left, a.right))
                    and not any(_is_dec_call(o) for o in (a.left, a.right))):
                out.append((node.lineno, ast.unparse(node)))
        elif fn == "F.sum":
            seg = ast.unparse(node)
            if "D25" in seg or "decimal(25,0)" in seg.replace(" ", ""):
                out.append((node.lineno, seg))
    return [f"{n}: {seg}" for n, seg in sorted(out)]


def test_money_checker_flags_bypasses():
    src = (
        'a = F.round(F.col("x") * 100, 0).cast("long")\n'
        'b = F.sum(c.cast("decimal(25,0)"))\n'
        'd = F.sum(c.cast(D25))\n'
        'e = F.round(dec("x") * 100).cast("long")\n'
        'f = F.round(F.col("x") * 1000000, 0)\n'
    )
    assert [v.split(":")[0] for v in money_violations(src)] == ["1", "2", "3"]


def test_query_modules_use_the_money_kernels():
    bad = {}
    for path in sorted(glob.glob(os.path.join(QUERIES_DIR, "*.py"))):
        if os.path.basename(path) == "_util.py":
            continue
        with open(path) as fh:
            found = money_violations(fh.read())
        if found:
            bad[os.path.basename(path)] = found
    assert not bad, bad
