"""Pins for round-13 optimization internals.

1. `_sum6` fast default grid (floor-long micros, shift/mask split) is
   value-identical to the legacy decimal accumulation on adversarial
   inputs: negatives, nulls, all-null groups, 2/4-dp grids, zero.
2. WeightedDeterministicLinker's low-parallelism repartition rescue keeps
   the scored pair set identical on a narrow (single-partition) input.

The catalog driver-path pins live in ``tests/test_catalog_driver_path.py``.
"""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as em

    return em


def test_sum6_fast_matches_legacy_adversarial(spark, entry):
    rows = [
        (1, 0.07),
        (1, -3.5),
        (1, None),
        (1, 123456.78),
        (1, -0.0001),
        (2, None),  # all-null group
        (3, 0.123456),
        (3, -98765.4321),
        (3, 1e9),
        (3, -1e9),
        (4, 0.0),
    ]
    df = spark.createDataFrame(rows, "g int, v double")
    fast = (
        df.groupBy("g").agg(entry._sum6(F.col("v")).alias("s")).orderBy("g")
    ).collect()
    legacy = (
        df.groupBy("g")
        .agg(entry._sum6(F.col("v"), dec=entry._dec6).alias("s"))
        .orderBy("g")
    ).collect()
    assert [r.asDict() for r in fast] == [r.asDict() for r in legacy]
    # dtype parity: both decimal(28,6)
    fdf = df.groupBy("g").agg(entry._sum6(F.col("v")).alias("s"))
    assert fdf.schema["s"].dataType.simpleString() == "decimal(28,6)"


def test_weighted_linker_rescue_same_pairs(spark):
    from matchbox_spark.operators.linkers import WeightedDeterministicLinker

    left = spark.createDataFrame(
        [(i, i % 5, float(i % 3)) for i in range(200)],
        "lid long, k int, b double",
    ).coalesce(1)
    right = spark.createDataFrame(
        [(100 + j, j % 5, float(j % 3)) for j in range(50)],
        "rid long, k int, b double",
    ).coalesce(1)
    linker = WeightedDeterministicLinker(
        left_id="lid",
        right_id="rid",
        weighted_comparisons=[
            {"comparison": "l.k = r.k", "weight": 2.0},
            {"comparison": "l.b = r.b", "weight": 1.0},
        ],
        threshold=0.66,
    )
    out = linker.link(left, right)
    got = {(r.left_id, r.right_id, round(r.score, 6)) for r in out.collect()}

    # independent reference: per-rule distinct pair sets, then weight sum
    lp = {(r.lid, r.k, r.b) for r in left.collect()}
    rp = {(r.rid, r.k, r.b) for r in right.collect()}
    exp = {}
    for lid, lk, lb in lp:
        for rid, rk, rb in rp:
            w = (2.0 if lk == rk else 0.0) + (1.0 if lb == rb else 0.0)
            if w / 3.0 >= 0.66:
                exp[(lid, rid)] = round(w / 3.0, 6)
    assert got == {(k[0], k[1], v) for k, v in exp.items()}
