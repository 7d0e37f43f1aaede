"""Generator tests — the reference's per-operator shape (SURVEY.md §5):
distribution tolerances and invariants under fixed seeds."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gecko_spark.operators import generators as G
from gecko_spark.plans.pipeline import to_data_frame

N = 20_000


def _gen(spark, spec, n=N, seed=42, **kw):
    return to_data_frame(spark, spec, n, seed=seed, **kw)


def test_uniform_range_and_format(spark):
    df = _gen(spark, [("v", G.from_uniform_distribution(10, 20, precision=3))])
    pdf = df.toPandas()
    vals = pdf["v"].astype(float)
    assert vals.between(10, 20).all()
    assert (pdf["v"].str.split(".").str[1].str.len() == 3).all()
    # roughly uniform: mean near 15
    assert abs(vals.mean() - 15) < 0.2


def test_normal_distribution_moments(spark):
    df = _gen(spark, [("v", G.from_normal_distribution(5, 2, raw=True))])
    vals = df.toPandas()["v"]
    assert abs(vals.mean() - 5) < 0.1
    assert abs(vals.std() - 2) < 0.1


def test_frequency_table_distribution(spark, fruit_freq):
    df = _gen(spark, [("fruit", G.from_frequency_table(fruit_freq, "fruit", "count"))])
    counts = df.toPandas()["fruit"].value_counts(normalize=True)
    assert abs(counts["apple"] - 100 / 230) < 0.02
    assert abs(counts["banana"] - 50 / 230) < 0.02
    assert abs(counts["orange"] - 80 / 230) < 0.02


def test_frequency_table_positional_no_header(spark, tmp_path):
    p = tmp_path / "noheader.csv"
    p.write_text("x,3\ny,7\n")
    df = _gen(spark, [("v", G.from_frequency_table(str(p), 0, 1))], n=5000)
    counts = df.toPandas()["v"].value_counts(normalize=True)
    assert abs(counts["y"] - 0.7) < 0.05


def test_frequency_table_preserves_empty_strings(spark, tmp_path):
    # reference keeps empty strings as values (tests/test_generator.py:218-231)
    p = tmp_path / "empty.csv"
    p.write_text("value,count\n,50\nfull,50\n")
    df = _gen(spark, [("v", G.from_frequency_table(str(p), "value", "count"))], n=2000)
    vals = df.toPandas()["v"]
    assert (vals == "").sum() > 500
    assert not vals.isna().any()


def test_multicolumn_frequency_table_joint_dependence(spark, fruit_type_freq):
    gen = G.from_multicolumn_frequency_table(fruit_type_freq, ["fruit", "type"], "count")
    df = _gen(spark, [(("fruit", "type"), gen)])
    pairs = set(map(tuple, df.toPandas()[["fruit", "type"]].drop_duplicates().values))
    allowed = set(map(tuple, fruit_type_freq[["fruit", "type"]].values))
    assert pairs <= allowed
    assert len(pairs) == 6  # all rows observed at N=20k


def test_multicolumn_large_table_rows_stay_joint(spark):
    # Rows must stay joint, and values must round-trip unchanged through
    # the plan's array literals, whatever characters they hold.
    k = 1500
    special = ["", "a,b", 'say "hi"', "back\\slash", "tab\there", "Müller", "日本語", "😀", "[1]", "null"]
    a = special + [f"a{i}" for i in range(len(special), k)]
    tbl = pd.DataFrame({"a": a, "b": [f"b{i}" for i in range(k)],
                        "n": [100] * len(special) + [1] * (k - len(special))})
    gen = G.from_multicolumn_frequency_table(tbl, ["a", "b"], "n")
    pdf = _gen(spark, [(("a", "b"), gen)], n=5000).toPandas()
    assert (pdf["a"] == pdf["b"].map(dict(zip(tbl["b"], tbl["a"])))).all()
    assert set(special) <= set(pdf["a"])


@pytest.mark.parametrize(
    "weights",
    [
        [7],
        [0, 0, 3, 0, 5, 0, 0, 2, 0, 0],  # leading, inner and trailing zeros
        [1] * 63,
        [1] * 64,
        [1] * 65,
        list(range(1, 3876)),
    ],
    ids=["k1", "zeros", "k63", "k64", "k65", "k3875"],
)
def test_frequency_table_index_is_exact_upper_bound(spark, weights):
    """The sampled row is the upper bound of the integer draw in the
    cumulative weights: ``np.searchsorted(cum, u_int, side="right")``,
    under both randomness sources."""
    from gecko_spark.core import HashRandom, LcgRandom

    gen = G.FrequencyTableGenerator(
        pd.DataFrame({"v": [f"v{i}" for i in range(len(weights))]}), np.array(weights)
    )
    seed = spark.range(0, 5000).withColumnRenamed("id", "__idx__")
    for rand in (HashRandom(11, ["__idx__"]), LcgRandom("__idx__", 11)):
        u_int = rand.uniform_int(0, gen.total)
        pdf = seed.select(
            u_int.alias("u"), gen.index_column(rand).alias("i"), gen.columns(rand)[0].alias("v")
        ).toPandas()
        expected = np.searchsorted(gen.cum, pdf["u"].to_numpy(), side="right")
        np.testing.assert_array_equal(pdf["i"].to_numpy(), expected)
        assert (pdf["v"].to_numpy() == gen.values["v"].to_numpy()[expected]).all()


def test_datetime_range_bounds_and_format(spark):
    gen = G.from_datetime_range("2020-01-01", "2020-12-31", "%d.%m.%Y", "d")
    df = _gen(spark, [("d", gen)], n=5000)
    parsed = pd.to_datetime(df.toPandas()["d"], format="%d.%m.%Y")
    assert parsed.min() >= pd.Timestamp("2020-01-01")
    assert parsed.max() <= pd.Timestamp("2020-12-31")
    # endpoint inclusivity: both extremes eventually appear
    assert parsed.dt.date.nunique() > 300


def test_datetime_range_hours(spark):
    gen = G.from_datetime_range("2020-01-01", "2020-01-02", "%Y-%m-%d %H:%M:%S", "h")
    df = _gen(spark, [("d", gen)], n=2000)
    parsed = pd.to_datetime(df.toPandas()["d"])
    assert (parsed.dt.minute == 0).all()
    assert parsed.max() <= pd.Timestamp("2020-01-02")


def test_group_choice_weights(spark):
    gen = G.from_group(
        [
            (0.25, G.from_uniform_distribution(0, 1, precision=1)),
            (0.75, G.from_uniform_distribution(100, 101, precision=1)),
        ]
    )
    df = _gen(spark, [("v", gen)])
    vals = df.toPandas()["v"].astype(float)
    frac_high = (vals > 50).mean()
    assert abs(frac_high - 0.75) < 0.02


def test_group_exact_counts(spark):
    gen = G.from_group(
        [
            (1 / 3, G.from_uniform_distribution(0, 1, precision=1)),
            (1 / 3, G.from_uniform_distribution(100, 101, precision=1)),
            (1 / 3, G.from_uniform_distribution(200, 201, precision=1)),
        ],
        mode="exact",
    )
    df = _gen(spark, [("v", gen)], n=10_000)
    vals = df.toPandas()["v"].astype(float)
    bins = pd.cut(vals, [-1, 50, 150, 300]).value_counts().sort_index().tolist()
    # largest-remainder allocation: exact to ±1
    assert sum(bins) == 10_000
    assert max(bins) - min(bins) <= 2


def test_group_requires_same_arity(spark, fruit_type_freq, fruit_freq):
    with pytest.raises(ValueError, match="different amounts of columns"):
        G.from_group(
            [
                G.from_frequency_table(fruit_freq, "fruit", "count"),
                G.from_multicolumn_frequency_table(fruit_type_freq, ["fruit", "type"], "count"),
            ]
        )


def test_group_weights_must_sum_to_one(spark):
    with pytest.raises(ValueError, match="sum of weights"):
        G.from_group([(0.3, G.from_uniform_distribution())])


def test_from_function(spark):
    gen = G.from_function(lambda: "constant")
    df = _gen(spark, [("v", gen)], n=100)
    assert (df.toPandas()["v"] == "constant").all()


def test_to_data_frame_validates(spark, fruit_freq):
    gen = G.from_frequency_table(fruit_freq, "fruit", "count")
    with pytest.raises(ValueError, match="must not be empty"):
        to_data_frame(spark, [], 10)
    with pytest.raises(ValueError, match="must be positive"):
        to_data_frame(spark, [("a", gen)], 0)
    with pytest.raises(ValueError, match="duplicate column name"):
        to_data_frame(spark, [("a", gen), ("a", gen)], 10)
    with pytest.raises(ValueError, match="name\\(s\\) were supplied"):
        to_data_frame(spark, [(("a", "b"), gen)], 10)


def test_generation_is_one_projection_over_range(spark, fruit_freq):
    """Scale invariant: the assembled plan must be a single narrow stage
    — Project over Range, no joins, no exchanges."""
    df = _gen(spark, [
        ("fruit", G.from_frequency_table(fruit_freq, "fruit", "count")),
        ("score", G.from_uniform_distribution(0, 100)),
    ], n=100)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_distribution_fidelity_1m(spark, fruit_freq):
    """Mirror the reference's headline fidelity metric (BASELINE.md:
    deviations from source distributions <0.005% in 99.5% of cases —
    at 1M rows we check every category's absolute deviation < 0.2%)."""
    from gecko_spark.operators import generators as G
    from gecko_spark.plans.pipeline import to_data_frame

    n = 1_000_000
    df = to_data_frame(
        spark,
        [("fruit", G.from_frequency_table(fruit_freq, "fruit", "count"))],
        n,
        seed=99,
    )
    counts = {r["fruit"]: r["count"] for r in df.groupBy("fruit").count().collect()}
    total_w = 230.0
    expected = {"apple": 100 / total_w, "banana": 50 / total_w, "orange": 80 / total_w}
    for fruit, p in expected.items():
        assert abs(counts[fruit] / n - p) < 0.002, (fruit, counts[fruit] / n, p)


def test_from_group_rounding_adjustment_warns():
    """VERDICT r12 #5: the reference's round()-drift repair budget has
    nothing to repair under largest-remainder allocation — a nonzero
    value must warn instead of silently doing nothing."""
    import warnings

    import pytest

    from gecko_spark.core import GeckoWarning
    from gecko_spark.operators.generators import from_group, from_uniform_distribution

    gens = [from_uniform_distribution(0, 1), from_uniform_distribution(1, 2)]
    with pytest.warns(GeckoWarning, match="max_rounding_adjustment"):
        from_group(gens, max_rounding_adjustment=3)
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # zero (default): no warning
        from_group(gens, max_rounding_adjustment=0)


def test_driver_memory_follows_physical_memory(monkeypatch):
    """get_spark's default driver heap is half of physical memory in
    whole GiB, within [1g, 16g]; GECKO_SPARK_DRIVER_MEM overrides it."""
    from gecko_spark.core import driver_memory

    monkeypatch.delenv("GECKO_SPARK_DRIVER_MEM", raising=False)
    gib = 2**30
    assert driver_memory(15 * gib) == "7g"
    assert driver_memory(16 * gib) == "8g"
    assert driver_memory(1 * gib) == "1g"
    assert driver_memory(256 * gib) == "16g"
    assert 1 <= int(driver_memory()[:-1]) <= 16
    monkeypatch.setenv("GECKO_SPARK_DRIVER_MEM", "3g")
    assert driver_memory(256 * gib) == "3g"
