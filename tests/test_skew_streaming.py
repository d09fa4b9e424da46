"""Salted skew join equivalence."""

import numpy as np
import pandas as pd

from osmquadtree_bin_spark.operators.skew import hot_keys_from_counts, salted_join


def test_hot_key_detection():
    counts = pd.DataFrame({"cell": [1, 2, 3, 4], "cnt": [10, 12, 11, 500]})
    assert hot_keys_from_counts(counts, skew_ratio=3.0) == [4]
    assert hot_keys_from_counts(pd.DataFrame({"cell": [], "cnt": []})) == []


def test_salted_join_matches_plain_join(spark):
    rng = np.random.default_rng(3)
    # skewed big side: 80% of rows on key 7
    keys = np.where(rng.random(20000) < 0.8, 7, rng.integers(0, 50, 20000))
    big = spark.createDataFrame(
        pd.DataFrame({"tile": keys.astype(np.int64), "val": np.arange(20000, dtype=np.int64)})
    )
    small = spark.createDataFrame(
        pd.DataFrame({"tile": np.arange(50, dtype=np.int64),
                      "meta": [f"m{i}" for i in range(50)]})
    )
    plain = big.join(small, "tile").groupBy("tile").count().toPandas()
    salted = (
        salted_join(big, small, "tile", hot_keys=[7], factor=8)
        .groupBy("tile").count().toPandas()
    )
    pd.testing.assert_frame_equal(
        plain.sort_values("tile").reset_index(drop=True),
        salted.sort_values("tile").reset_index(drop=True),
    )
    # row-level equality too
    p = big.join(small, "tile").orderBy("val").toPandas()
    s = salted_join(big, small, "tile", [7], 8).orderBy("val").toPandas()
    pd.testing.assert_frame_equal(p, s[p.columns])


def test_salted_join_no_hot_keys_passthrough(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    small = spark.createDataFrame([(1, "x")], "k long, m string")
    got = salted_join(big, small, "k", hot_keys=[]).collect()
    assert len(got) == 1 and got[0]["m"] == "x"
