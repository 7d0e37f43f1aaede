"""Mutator tests: full-mutation (p=1), partial (p≈0.5), invariants, and
the favor-rare / exclusivity semantics — the reference's test shape
(reference tests/test_mutator.py)."""

from __future__ import annotations

import random
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gecko_spark import GeckoWarning
from gecko_spark.core import HashRandom
from gecko_spark.operators import generators as G
from gecko_spark.operators import mutators as M
from gecko_spark.plans.pipeline import mutate_data_frame, to_data_frame

N = 5000


@pytest.fixture(scope="module")
def names_df(spark):
    """Deterministic string column with a stable integer key."""
    gen = G.from_frequency_table(
        pd.DataFrame({"v": ["alpha", "bravado", "charlie", "Delta", "echo-echo"],
                      "n": [1, 1, 1, 1, 1]}), "v", "n")
    df = to_data_frame(spark, [("name", gen)], N, seed=11, keep_index=True)
    return df.cache()


def _mutate(df, spec, **kw):
    kw.setdefault("key_columns", ["__idx__"])
    kw.setdefault("seed", 99)
    return mutate_data_frame(df, spec, **kw)


def _changed_frac(df_in, df_out, col):
    joined = df_in.select("__idx__", col).withColumnRenamed(col, "before").join(
        df_out.select("__idx__", col), "__idx__")
    return joined.filter(f"`{col}` <> before").count() / df_in.count()


# -- simple mutators ---------------------------------------------------------


def test_missing_value_full_and_partial(spark, names_df):
    out = _mutate(names_df, [("name", M.with_missing_value("?"))])
    assert out.filter("name <> '?'").count() == 0

    out = _mutate(names_df, [("name", (0.5, M.with_missing_value("?")))])
    frac = out.filter("name = '?'").count() / N
    assert 0.45 < frac < 0.55


def test_insert_length_plus_one(spark, names_df):
    out = _mutate(names_df, [("name", M.with_insert("#"))])
    pdf = out.join(names_df.withColumnRenamed("name", "b"), "__idx__").toPandas()
    assert (pdf["name"].str.len() == pdf["b"].str.len() + 1).all()
    assert pdf["name"].str.contains("#", regex=False).all()


def test_delete_length_minus_one(spark, names_df):
    out = _mutate(names_df, [("name", M.with_delete())])
    pdf = out.join(names_df.withColumnRenamed("name", "b"), "__idx__").toPandas()
    assert (pdf["name"].str.len() == pdf["b"].str.len() - 1).all()


def test_transpose_preserves_multiset(spark, names_df):
    out = _mutate(names_df, [("name", M.with_transpose())])
    pdf = out.join(names_df.withColumnRenamed("name", "b"), "__idx__").toPandas()
    assert (pdf["name"].apply(sorted) == pdf["b"].apply(sorted)).all()
    assert (pdf["name"].str.len() == pdf["b"].str.len()).all()


def test_substitute_same_length_charset(spark, names_df):
    out = _mutate(names_df, [("name", M.with_substitute("0123456789"))])
    pdf = out.join(names_df.withColumnRenamed("name", "b"), "__idx__").toPandas()
    assert (pdf["name"].str.len() == pdf["b"].str.len()).all()
    assert pdf["name"].str.contains("[0-9]").all()


def test_noop(spark, names_df):
    out = _mutate(names_df, [("name", M.with_noop())])
    assert _changed_frac(names_df, out, "name") == 0


def test_case_mutators(spark, names_df):
    up = _mutate(names_df, [("name", M.with_uppercase())])
    assert up.filter("name <> upper(name)").count() == 0
    low = _mutate(names_df, [("name", M.with_lowercase())])
    assert low.filter("name <> lower(name)").count() == 0


def test_repeat(spark, names_df):
    out = _mutate(names_df, [("name", M.with_repeat("-"))])
    pdf = out.join(names_df.withColumnRenamed("name", "b"), "__idx__").toPandas()
    assert (pdf["name"] == pdf["b"] + "-" + pdf["b"]).all()


def test_categorical_values_always_different(spark):
    cats = pd.DataFrame({"gender": ["f", "m", "x", "d", "f", "m"]})
    gen = G.from_frequency_table(
        pd.DataFrame({"v": ["f", "m", "x"], "n": [1, 1, 1]}), "v", "n")
    df = to_data_frame(spark, [("g", gen)], N, seed=3, keep_index=True)
    out = _mutate(df, [("g", M.with_categorical_values(cats, "gender"))])
    joined = df.withColumnRenamed("g", "b").join(out, "__idx__")
    assert joined.filter("g = b").count() == 0
    assert out.filter("g not in ('f','m','x','d')").count() == 0


def test_categorical_requires_two_values(spark):
    with pytest.raises(ValueError, match="at least two"):
        M.with_categorical_values(pd.DataFrame({"g": ["only"]}), "g")


# -- datetime ----------------------------------------------------------------


def test_datetime_offset_within_delta(spark):
    gen = G.from_datetime_range("2020-03-05", "2020-03-20", "%Y-%m-%d", "d")
    df = to_data_frame(spark, [("d", gen)], N, seed=5, keep_index=True)
    out = _mutate(df, [("d", M.with_datetime_offset(5, "d", "%Y-%m-%d"))])
    joined = df.withColumnRenamed("d", "b").join(out, "__idx__").toPandas()
    delta = (pd.to_datetime(joined["d"]) - pd.to_datetime(joined["b"])).dt.days
    assert delta.abs().between(1, 5).all()


def test_datetime_offset_prevent_wraparound(spark):
    gen = G.from_datetime_range("2020-03-01", "2020-03-31", "%Y-%m-%d", "d")
    df = to_data_frame(spark, [("d", gen)], N, seed=6, keep_index=True)
    out = _mutate(df, [("d", M.with_datetime_offset(10, "d", "%Y-%m-%d", prevent_wraparound=True))])
    months = pd.to_datetime(out.toPandas()["d"]).dt.month
    assert (months == 3).all()


def test_datetime_offset_validates(spark):
    with pytest.raises(ValueError, match="must be positive"):
        M.with_datetime_offset(0, "d", "%Y-%m-%d")
    with pytest.raises(ValueError, match="unrecognized unit"):
        M.with_datetime_offset(1, "w", "%Y-%m-%d")


# -- multi-column ------------------------------------------------------------


def test_permute_two_columns_exact_swap(spark, names_df):
    df = names_df.withColumn("other", names_df["name"].substr(1, 3))
    out = _mutate(df, [(("name", "other"), M.with_permute())])
    joined = df.select("__idx__",
                       df["name"].alias("b1"), df["other"].alias("b2")).join(out, "__idx__")
    # p=1, two columns: every row exactly swapped (test_mutator.py:571-594)
    assert joined.filter("name <> b2 or other <> b1").count() == 0


def test_permute_partial(spark, names_df):
    df = names_df.withColumn("other", names_df["name"].substr(1, 3))
    out = _mutate(df, [(("name", "other"), (0.4, M.with_permute()))])
    joined = df.select("__idx__", df["name"].alias("b1")).join(out, "__idx__")
    frac = joined.filter("name <> b1").count() / N
    assert 0.35 < frac < 0.45


def test_permute_requires_two_columns(spark, names_df):
    with pytest.raises(ValueError, match="at least two"):
        _mutate(names_df, [("name", M.with_permute())])


def test_group_mutual_exclusivity(spark, names_df):
    out = _mutate(names_df, [("name", M.with_group([
        (0.5, M.with_missing_value("@MISS@")),
        (0.5, M.with_repeat("+")),
    ]))])
    pdf = out.toPandas()["name"]
    miss = (pdf == "@MISS@").mean()
    rep = pdf.str.contains("+", regex=False).mean()
    assert abs(miss - 0.5) < 0.05
    assert abs(rep - 0.5) < 0.05
    assert abs(miss + rep - 1.0) < 0.01


def test_group_weights_padded_with_noop(spark, names_df):
    out = _mutate(names_df, [("name", M.with_group([(0.3, M.with_missing_value("@"))]))])
    frac = out.filter("name = '@'").count() / N
    assert 0.25 < frac < 0.35


def test_group_validates_weights(spark):
    with pytest.raises(ValueError, match="not be higher than 1"):
        M.with_group([(0.8, M.with_noop()), (0.4, M.with_noop())])


def test_with_generator_modes(spark, names_df):
    gen = G.from_frequency_table(pd.DataFrame({"v": ["GEN"], "n": [1]}), "v", "n")
    rep = _mutate(names_df, [("name", M.with_generator(gen, "replace"))])
    assert rep.filter("name <> 'GEN'").count() == 0
    app = _mutate(names_df, [("name", M.with_generator(gen, "append", "_"))])
    assert app.filter("name not like '%_GEN'").count() == 0
    pre = _mutate(names_df, [("name", M.with_generator(gen, "prepend", "_"))])
    assert pre.filter("name not like 'GEN_%'").count() == 0
    tpl = _mutate(names_df, [("name", M.with_generator(gen, "append", " ({})"))])
    assert tpl.filter("name not like '% (GEN)'").count() == 0


def test_with_generator_arity_check(spark, names_df, fruit_type_freq):
    gen2 = G.from_multicolumn_frequency_table(fruit_type_freq, ["fruit", "type"], "count")
    with pytest.raises(ValueError, match="as many series"):
        _mutate(names_df, [("name", M.with_generator(gen2, "replace"))])


def test_with_function(spark, names_df):
    out = _mutate(names_df, [("name", (0.5, M.with_function(lambda v: v[::-1])))])
    pdf = out.join(names_df.withColumnRenamed("name", "b"), "__idx__").toPandas()
    changed = pdf["name"] != pdf["b"]
    assert (pdf.loc[changed, "name"] == pdf.loc[changed, "b"].str[::-1]).all()
    assert 0.4 < changed.mean() < 0.6


# -- table-driven ------------------------------------------------------------


def test_replacement_table_whole_value(spark, names_df):
    tbl = pd.DataFrame({"s": ["alpha", "echo-echo"], "t": ["ALPHA!", "ECHO!"]})
    out = _mutate(names_df, [("name", M.with_replacement_table(tbl, "s", "t"))])
    pdf = out.toPandas()["name"]
    assert not pdf.isin(["alpha", "echo-echo"]).any()
    assert pdf.isin(["ALPHA!", "ECHO!", "bravado", "charlie", "Delta"]).all()


def test_replacement_table_multiple_targets(spark, names_df):
    tbl = pd.DataFrame({"s": ["alpha", "alpha"], "t": ["a1", "a2"]})
    out = _mutate(names_df, [("name", M.with_replacement_table(tbl, "s", "t"))])
    vc = out.toPandas()["name"].value_counts()
    assert vc.get("a1", 0) > 100 and vc.get("a2", 0) > 100
    assert vc.get("alpha", 0) == 0


def test_replacement_table_reverse(spark, names_df):
    tbl = pd.DataFrame({"s": ["alpha"], "t": ["bravado"]})
    out = _mutate(names_df, [("name", M.with_replacement_table(tbl, "s", "t", reverse=True))])
    joined = names_df.withColumnRenamed("name", "b").join(out, "__idx__").toPandas()
    # both directions fire: alpha→bravado AND bravado→alpha
    assert (joined.loc[joined["b"] == "alpha", "name"] == "bravado").all()
    assert (joined.loc[joined["b"] == "bravado", "name"] == "alpha").all()


def test_replacement_table_inline_first_occurrence(spark, names_df):
    tbl = pd.DataFrame({"s": ["ch"], "t": ["kh"]})
    out = _mutate(names_df, [("name", M.with_replacement_table(tbl, "s", "t", inline=True))])
    pdf = out.toPandas()["name"]
    assert (pdf[pdf.str.startswith("kh")] == "kharlie").all()
    assert not pdf.str.startswith("ch").any()


def test_replacement_table_inline_favors_rare(spark):
    # 'zz' appears in few rows, 'aa' in many; rows containing both should
    # get the rare 'zz' replacement (gecko/mutator.py:618-624 ascending order)
    data = pd.DataFrame({"v": ["aazz"] * 10 + ["aa"] * 990})
    sdf = spark_from_pandas(data)
    tbl = pd.DataFrame({"s": ["aa", "zz"], "t": ["XX", "YY"]})
    out = M.with_replacement_table(tbl, "s", "t", inline=True).apply(sdf, ["v"], 1.0)
    pdf = out.toPandas()["v"]
    assert (pdf[pdf.str.contains("YY")] == "aaYY").all()
    assert pdf.str.contains("YY").sum() == 10


def test_phonetic_replacement_flags(spark):
    data = pd.DataFrame({"v": ["schade", "rasch", "xschx"] * 200})
    sdf = spark_from_pandas(data)
    tbl = pd.DataFrame({"s": ["sch"], "t": ["sh"], "f": ["^"]})
    out = M.with_phonetic_replacement_table(tbl, "s", "t", "f").apply(sdf, ["v"], 1.0)
    pdf = out.toPandas()["v"]
    assert (pdf[pdf.str.startswith("sh")] == "shade").all()
    assert set(pdf.unique()) == {"shade", "rasch", "xschx"}


def test_phonetic_replacement_end_and_middle(spark):
    data = pd.DataFrame({"v": ["rasch", "xschx"] * 200})
    sdf = spark_from_pandas(data)
    tbl = pd.DataFrame({"s": ["sch", "sch"], "t": ["sh", "sh"], "f": ["$", "_"]})
    out = M.with_phonetic_replacement_table(tbl, "s", "t", "f").apply(sdf, ["v"], 1.0)
    assert set(out.toPandas()["v"].unique()) == {"rash", "xshx"}


def test_regex_replacement_table(spark):
    data = pd.DataFrame({"v": ["1999-06-30", "2001-02-15"] * 100})
    sdf = spark_from_pandas(data)
    tbl = pd.DataFrame({"pattern": [r"\d{4}-\d{2}-(?P<value>30)"], "value": ["03"]})
    out = M.with_regex_replacement_table(tbl, "pattern").apply(sdf, ["v"], 1.0)
    vals = set(out.toPandas()["v"].unique())
    assert vals == {"1999-06-03", "2001-02-15"}


def test_regex_replacement_cross_reference(spark):
    data = pd.DataFrame({"v": ["1987-06-30"] * 50})
    sdf = spark_from_pandas(data)
    tbl = pd.DataFrame({
        "pattern": [r"\d{2}(?P<digit1>\d)(?P<digit2>\d)-\d{2}-\d{2}"],
        "digit1": ["(?P<digit2>)"],
        "digit2": ["(?P<digit1>)"],
    })
    out = M.with_regex_replacement_table(tbl, "pattern").apply(sdf, ["v"], 1.0)
    assert set(out.toPandas()["v"].unique()) == {"1978-06-30"}


def test_cldr_keymap(spark, cldr_file):
    data = pd.DataFrame({"v": ["sw"] * 500})
    sdf = spark_from_pandas(data)
    out = M.with_cldr_keymap_file(cldr_file).apply(sdf, ["v"], 1.0)
    pdf = out.toPandas()["v"]
    assert (pdf != "sw").all()
    assert (pdf.str.len() == 2).all()
    # neighbors of s: a,d,w,x,S; of w: q,e,s,W (grid defined in conftest)
    for v in pdf.unique():
        assert v[0] in "adwxSs" and v[1] in "qeswW"


def test_cldr_charset_restriction(spark, cldr_file):
    data = pd.DataFrame({"v": ["sw"] * 200})
    sdf = spark_from_pandas(data)
    mut = M.with_cldr_keymap_file(cldr_file, charset="sad")
    out = mut.apply(sdf, ["v"], 1.0)
    for v in out.toPandas()["v"].unique():
        assert v[1] == "w"  # 'w' not in charset: only 's' can mutate
        assert v[0] in "ad"


# -- Column kernels of keyboard typos and inline replacement -----------------
# Both run as Column algebra; each is compared with a pure-Python model
# of the same draws: the first match in the given order, the pick
# int(u * n), and str.replace(src, tgt, 1).

_EDGE_VALUES = [
    None, "", "ab", "b", "abab", "bcab", "a\nb", "x\U0001F600ab", "e\u0301b",
    "\U0001F600", "zzz", "ébab", "abc\n", "a",
]
_EDGE_KEYMAP = {
    "ab": "xy\U0001F601", "b": "nm", "\n": "t", "\U0001F600": "e\u0301", "e\u0301": "ü",
}
_EDGE_INLINE = pd.DataFrame({
    "s": ["ab", "ab", "bc", "b", "", "\n", "\U0001F600", "e\u0301"],
    "t": ["X", "Y\U0001F601", "Z", "", "E", "N", "F", "é"],
})


def _edge_frame(spark):
    vals = _EDGE_VALUES * 20
    return spark.createDataFrame(list(enumerate(vals)), "id long, v string"), vals


def _draws(df, rand):
    """Per-id (u0, u1, u2) of ``apply``'s column-0 stream."""
    r = rand.fork(0)
    rows = df.select("id", *[r.uniform(s).alias(f"u{s}") for s in range(3)]).collect()
    return {row["id"]: (row["u0"], row["u1"], row["u2"]) for row in rows}


def _keymap_model(v, u, p, keymap):
    pool = [] if v is None else [k for k in keymap if k in v]
    if not pool or not u[0] < p:
        return v
    key = pool[int(u[1] * len(pool))]
    nbrs = keymap[key]
    return v.replace(key, nbrs[int(u[2] * len(nbrs))], 1)


def _inline_model(v, u, p, targets, order):
    if v is None or not any(s in v for s in targets) or not u[0] < p:
        return v
    src = next((s for s in order if s in v), None)
    if src is None:
        return v
    tgts = targets[src]
    return v.replace(src, tgts[int(u[1] * len(tgts))], 1)


def _rands():
    from gecko_spark.core import LcgRandom

    return [HashRandom(5, ["id"]), LcgRandom("id", 6)]


@pytest.mark.parametrize("p", [0.1, 1.0])
def test_keymap_column_kernel_matches_model(spark, p):
    df, vals = _edge_frame(spark)
    mut = M._CldrKeymap(_EDGE_KEYMAP)
    for rand in _rands():
        u = _draws(df, rand)
        got = dict(mut.apply(df, "v", p, rand=rand).collect())
        expected = {i: _keymap_model(v, u[i], p, _EDGE_KEYMAP) for i, v in enumerate(vals)}
        assert got == expected
        assert sum(got[i] != v for i, v in enumerate(vals)) > (50 if p == 1.0 else 5)


@pytest.mark.parametrize("p", [0.1, 1.0])
def test_inline_column_kernel_matches_model(spark, p):
    df, vals = _edge_frame(spark)
    mut = M.with_replacement_table(_EDGE_INLINE, "s", "t", inline=True)
    targets = mut.targets
    counts = {s: sum(v is not None and s in v for v in vals) for s in targets}
    order = sorted((s for s in targets if counts[s] > 0), key=lambda s: (counts[s], s))
    for rand in _rands():
        u = _draws(df, rand)
        got = dict(mut.apply(df, "v", p, rand=rand).collect())
        expected = {i: _inline_model(v, u[i], p, targets, order) for i, v in enumerate(vals)}
        assert got == expected
        assert sum(got[i] != v for i, v in enumerate(vals)) > (50 if p == 1.0 else 5)


def test_inline_rule_matches_agree_with_column_match_test(spark):
    """The count job's Python match test and the kernel's Column test
    agree on every source and edge value (a null matches nothing)."""
    mut = M.with_replacement_table(_EDGE_INLINE, "s", "t", inline=True)
    df, _ = _edge_frame(spark)
    df = df.filter("id < %d" % len(_EDGE_VALUES))
    matches = [F.coalesce(M._contains(F.col("v"), F.lit(s)), F.lit(False)) for s in mut.rules]
    got = np.array([list(r)[1:] for r in df.select("id", *matches).orderBy("id").collect()])
    expected = mut._rule_matches(np.array(_EDGE_VALUES, dtype=object))
    assert (got.T == expected).all()


def test_keymap_eligibility_is_the_whole_key(spark):
    """A row is eligible only if it holds a whole key: with the key "ab",
    the "a" rows can never change, so under strict_p half the rows are
    eligible, p = 0.5 rescales to 1 and every "ab" row changes."""
    data = pd.DataFrame({"v": ["a", "ab"] * 100})
    sdf = spark_from_pandas(data)
    out = M._CldrKeymap({"ab": "xy"}).apply(sdf, ["v"], 0.5, strict_p=True, seed=3)
    got = out.orderBy("__idx__").toPandas()["v"]
    assert (got[data.v == "a"] == "a").all()
    assert got[data.v == "ab"].isin(["x", "y"]).all()


# -- driver ------------------------------------------------------------------


def test_mutate_data_frame_sequential_chaining(spark, names_df):
    out = _mutate(names_df, [
        ("name", [(1.0, M.with_uppercase()), (1.0, M.with_repeat("|"))]),
    ])
    pdf = out.toPandas()["name"]
    assert pdf.str.match(r"^[A-Z\-]+\|[A-Z\-]+$").all()


def test_mutate_data_frame_bare_list_is_p1(spark, names_df):
    out = _mutate(names_df, [("name", [M.with_uppercase()])])
    assert out.filter("name <> upper(name)").count() == 0


def test_mutate_data_frame_validates(spark, names_df):
    with pytest.raises(ValueError, match="does not exist"):
        _mutate(names_df, [("missing_col", M.with_noop())])
    with pytest.raises(ValueError, match="range of \\(0, 1\\]"):
        _mutate(names_df, [("name", (1.5, M.with_noop()))])
    with pytest.raises(ValueError, match="invalid type"):
        _mutate(names_df, [("name", "not a mutator")])


def test_strict_p_warns_when_unreachable(spark):
    data = pd.DataFrame({"v": ["x"] * 100 + [""] * 900})
    sdf = spark_from_pandas(data)
    with pytest.warns(GeckoWarning, match="desired probability"):
        out = M.with_missing_value("").apply(sdf, ["v"], 0.5, strict_p=True)
        out.collect()


def test_strict_p_rescales_to_overall_rate(spark):
    # half the rows are eligible; strict p=0.4 should mutate ≈40% of ALL rows
    data = pd.DataFrame({"v": ["x"] * 2500 + [""] * 2500})
    sdf = spark_from_pandas(data)
    out = M.with_missing_value("").apply(sdf, ["v"], 0.4, strict_p=True, seed=5)
    frac = out.filter("v = ''").count() / 5000 - 0.5
    assert 0.35 < frac < 0.45


def test_strict_p_counts_null_rows_as_ineligible(spark):
    """A null value's eligibility test is null, and it counts as
    ineligible: half the rows null, strict p = 0.5 measures 0.5, rescales
    to 1 and changes about 1000 rows, not 500."""
    data = pd.DataFrame({"v": ["ab", None] * 1000})
    sdf = spark_from_pandas(data)
    out = M.with_delete().apply(sdf, "v", 0.5, strict_p=True)
    joined = sdf.alias("a").join(out.alias("b"), "__idx__")
    changed = joined.filter(~F.col("a.v").eqNullSafe(F.col("b.v"))).count()
    assert abs(changed - 1000) <= 6 * (2000 * 0.5 * 0.5) ** 0.5


def test_selection_mask_takes_null_flags_as_unselected():
    """The Arrow kernels' selection mask: a null flag is not selected,
    and no pandas warning is raised on the way."""
    import warnings

    cases = [
        (pd.Series([True, None, False], dtype=object), [True, False, False]),
        (pd.Series([True, False]), [True, False]),
        (pd.Series([None, None], dtype=object), [False, False]),
        (pd.Series([True, pd.NA], dtype="boolean"), [True, False]),
    ]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for sel, expected in cases:
            mask = M._selection_mask(sel)
            assert mask.dtype == bool
            assert mask.tolist() == expected


def spark_from_pandas(pdf):
    """Create a Spark DF with a unique key column for randomness."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    pdf = pdf.copy()
    pdf["__idx__"] = range(len(pdf))
    return spark.createDataFrame(pdf)


def test_phonetic_output_partitioning_independent(spark):
    """With competing rules (rows matching several), the rule order is
    computed dataset-wide, so output is identical under any partition
    layout — batch-local ordering would let batch boundaries change
    which rule claims a row."""
    import pandas as pd

    from gecko_spark.core import LcgRandom
    from gecko_spark.operators import mutators as M

    tbl = pd.DataFrame(
        {
            "source": ["an", "ana", "na"],
            "target": ["en", "eni", "no"],
            "flags": ["", "", ""],
        }
    )
    words = ["banana", "bandana", "cabana", "anagram", "manna", "savanna"] * 50
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "id long, w string"
    )
    mut = M.with_phonetic_replacement_table(tbl, "source", "target", "flags")

    out1 = (
        mut.apply(df.repartition(1), "w", 0.8, rand=LcgRandom("id", 5))
        .orderBy("id").toPandas()
    )
    out8 = (
        mut.apply(df.repartition(8), "w", 0.8, rand=LcgRandom("id", 5))
        .orderBy("id").toPandas()
    )
    assert out1["w"].tolist() == out8["w"].tolist()
    assert (out1["w"] != pd.Series(words)).any()


def test_all_simple_mutators_null_and_empty_safe(spark):
    """Null and empty-string rows must never crash a mutator kernel and
    nulls must stay null (the reference's masked update can't resurrect
    a NaN; neither may we)."""
    import pandas as pd

    from gecko_spark.core import LcgRandom
    from gecko_spark.operators import mutators as M

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate([None, "", "a", "ab", "abc", None, ""] * 30)],
        "id long, v string",
    )
    muts = [
        M.with_missing_value("N/A"),
        M.with_insert(),
        M.with_delete(),
        M.with_transpose(),
        M.with_substitute(),
        M.with_lowercase(),
        M.with_uppercase(),
        M.with_repeat(),
        # func receives None for null rows (reference passes NaN —
        # handling is the function's contract)
        M.with_function(lambda s: s[::-1] if s else s),
        M.with_replacement_table(
            pd.DataFrame({"source": ["a"], "target": ["x"]}), "source", "target",
            inline=True,
        ),
        M.with_phonetic_replacement_table(
            pd.DataFrame({"source": ["ab"], "target": ["ba"], "flags": ["^"]}),
            "source", "target", "flags",
        ),
    ]
    for mut in muts:
        out = mut.apply(df, "v", 0.9, rand=LcgRandom("id", 3)).toPandas()
        orig = df.toPandas()
        nulls = orig["v"].isna()
        assert out["v"][nulls].isna().all(), f"{mut.name} resurrected a null"
        assert len(out) == len(orig), mut.name


def test_missing_value_nulls_eligible_opt_in(spark):
    """Default: nulls stay null (SQL three-valued eligibility); with
    nulls_eligible=True null rows are filled with the sentinel — the
    reference's NaN behavior (gecko/mutator.py:678)."""
    import gecko_spark.operators.mutators as M

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id long, v string"
    )
    kept = M.with_missing_value("XX").apply(df, "v", p=1.0, seed=5)
    got = {r["id"]: r["v"] for r in kept.collect()}
    assert got[2] is None and got[4] is None
    assert got[1] == "XX" and got[3] == "XX"

    filled = M.with_missing_value("XX", nulls_eligible=True).apply(df, "v", p=1.0, seed=5)
    got2 = {r["id"]: r["v"] for r in filled.collect()}
    assert got2 == {1: "XX", 2: "XX", 3: "XX", 4: "XX"}


def test_rule_frequencies_supplied_matches_internal_prepass(spark):
    """Supplying measured rule frequencies must reproduce the internal
    global-order pre-pass bit-for-bit (it feeds the same sort), while
    skipping the aggregation job."""
    data = pd.DataFrame({"v": ["abc"] * 6 + ["abz"] * 5 + ["xbc"] * 10})
    sdf = spark_from_pandas(data)
    tbl = pd.DataFrame({"s": ["ab", "bc"], "t": ["X", "Y"]})

    auto = M.with_replacement_table(tbl, "s", "t", inline=True)
    freqs = auto.measure_rule_frequencies(sdf, "v")
    assert freqs == {"ab": 11, "bc": 16}

    supplied = M.with_replacement_table(tbl, "s", "t", inline=True, rule_frequencies=freqs)
    a = auto.apply(sdf, ["v"], 1.0, seed=3).toPandas()["v"]
    b = supplied.apply(sdf, ["v"], 1.0, seed=3).toPandas()["v"]
    assert (a == b).all()
    # ascending global order puts 'ab' (11) before 'bc' (16): every
    # 'abc' row takes the rarer 'ab' rule
    assert (a[: 6] == "Xc").all()


def test_rule_frequencies_reference_favor_rare_scenario(spark):
    """Reference scenario (reference tests/test_mutator.py:133-144):
    100x foobar + 50x foobaz, both rules fire on every matching row at
    p=1 — here run inline with supplied frequencies."""
    data = pd.DataFrame({"v": ["foobar"] * 100 + ["foobaz"] * 50})
    sdf = spark_from_pandas(data)
    tbl = pd.DataFrame({"s": ["foobar", "foobaz"], "t": ["0", "1"]})
    mut = M.with_replacement_table(
        tbl, "s", "t", inline=True,
        rule_frequencies={"foobar": 100, "foobaz": 50},
    )
    out = mut.apply(sdf, ["v"], 1.0, seed=1).toPandas()["v"]
    assert (out[:100] == "0").all()
    assert (out[100:] == "1").all()


def test_rule_frequencies_validation(spark):
    tbl = pd.DataFrame({"s": ["aa", "zz"], "t": ["X", "Y"]})
    with pytest.raises(ValueError, match="rule_frequencies"):
        M.with_replacement_table(tbl, "s", "t", inline=True, rule_frequencies={"nope": 1})
    ptbl = pd.DataFrame({"s": ["ph", "th"], "t": ["f", "t"], "f": ["", ""]})
    with pytest.raises(ValueError, match="align"):
        M.with_phonetic_replacement_table(ptbl, "s", "t", "f", rule_frequencies=[1])
    rtbl = pd.DataFrame({"pattern": [r"(?P<a>x)"], "a": ["y"]})
    with pytest.raises(ValueError, match="align"):
        M.with_regex_replacement_table(rtbl, pattern_column="pattern", rule_frequencies=[1, 2])


def test_phonetic_rule_frequencies_matches_internal_prepass(spark):
    # rule 1 (^sch): schade, schasx; rule 2 (middle 'as'): rasch, phase,
    # schasx — schasx matches BOTH, so global rule order is load-bearing
    data = pd.DataFrame({"v": ["schade", "rasch", "xschx", "phase", "schasx"] * 100})
    sdf = spark_from_pandas(data)
    tbl = pd.DataFrame({"s": ["sch", "as"], "t": ["sh", "az"], "f": ["^", ""]})
    auto = M.with_phonetic_replacement_table(tbl, "s", "t", "f")
    counts = auto.measure_rule_frequencies(sdf, "v")
    assert counts == [200, 0, 300, 0]  # empty flag expands to ^/_/$ rules
    supplied = M.with_phonetic_replacement_table(tbl, "s", "t", "f", rule_frequencies=counts)
    a = auto.apply(sdf, ["v"], 1.0, seed=7).toPandas()["v"]
    b = supplied.apply(sdf, ["v"], 1.0, seed=7).toPandas()["v"]
    assert (a == b).all()


def test_regex_rule_frequencies_matches_internal_prepass(spark):
    data = pd.DataFrame({"v": ["2020-01-02", "03/04/2021"] * 50})
    sdf = spark_from_pandas(data)
    rtbl = pd.DataFrame(
        {
            "pattern": [r"(?P<y>\d{4})-(?P<m>\d{2})", r"(?P<m>\d{2})/(?P<d>\d{2})"],
            "y": ["(?P<y>)", ""],
            "m": ["(?P<m>)", "(?P<d>)"],
            "d": ["", "(?P<m>)"],
        }
    )
    auto = M.with_regex_replacement_table(rtbl, pattern_column="pattern")
    counts = auto.measure_rule_frequencies(sdf, "v")
    assert counts == [50, 50]
    supplied = M.with_regex_replacement_table(
        rtbl, pattern_column="pattern", rule_frequencies=counts
    )
    a = auto.apply(sdf, ["v"], 1.0, seed=9).toPandas()["v"]
    b = supplied.apply(sdf, ["v"], 1.0, seed=9).toPandas()["v"]
    assert (a == b).all()


def test_case_mutators_exact_eligibility_strict_p(spark):
    """Reference parity on digit-heavy columns (gecko/mutator.py:1141,
    :1185): Python's ~islower()/~isupper() count cased-character-free
    strings as ELIGIBLE, so with 2/3 digit rows and p=0.5 the reference
    does NOT warn. The JVM approximation (col != lower(col)) counts them
    ineligible -> p_actual=0 -> GeckoWarning + rescale. exact_eligibility
    restores the reference's accounting; mutation output is identical."""
    import warnings

    data = pd.DataFrame({"v": ["abc", "123", "456"] * 100})
    sdf = spark_from_pandas(data)

    # approximation: everything ineligible -> must warn under strict_p
    with pytest.warns(GeckoWarning):
        _mutate(sdf, [("v", (0.5, M.with_lowercase()))], strict_p=True).collect()

    # exact: p_actual = 2/3 >= 0.5 -> silent, like the reference
    with warnings.catch_warnings():
        warnings.simplefilter("error", GeckoWarning)
        out = _mutate(
            sdf, [("v", (0.5, M.with_lowercase(exact_eligibility=True)))],
            strict_p=True,
        ).toPandas()["v"]
    # lowercasing a digit string or an already-lower string is a no-op
    assert (out == data["v"]).all()

    # uppercase mirror: "ABC" rows are ineligible for ~isupper(), digit
    # rows eligible -> p_actual = 2/3, no warning; approx warns
    data_u = pd.DataFrame({"v": ["ABC", "123", "456"] * 100})
    sdf_u = spark_from_pandas(data_u)
    with pytest.warns(GeckoWarning):
        _mutate(sdf_u, [("v", (0.5, M.with_uppercase()))], strict_p=True).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error", GeckoWarning)
        out_u = _mutate(
            sdf_u, [("v", (0.5, M.with_uppercase(exact_eligibility=True)))],
            strict_p=True,
        ).toPandas()["v"]
    assert (out_u == data_u["v"]).all()

    # on a cased column both eligibility modes select identically
    mixed = pd.DataFrame({"v": ["Alpha", "BRAVO", "charlie", "Delta"] * 50})
    smix = spark_from_pandas(mixed)
    a = _mutate(smix, [("v", (0.5, M.with_lowercase()))]).toPandas()["v"]
    b = _mutate(smix, [("v", (0.5, M.with_lowercase(exact_eligibility=True)))]).toPandas()["v"]
    assert (a == b).all()


# -- favor-rare rule counts --------------------------------------------------

# nulls, empty strings, non-ASCII and repeated values in one column
_COUNT_VALUES = [
    None, "", "a", "ab", "abc", "Müller", "über", "straße", "ßab", "schasx",
    "rasch", "schade", "x", "2020-01-02", "03/04/2021", "日本語", "ab ab", "s",
] * 3 + [None, "", "Müller"]


def _values_df(values):
    return spark_from_pandas(pd.DataFrame({"v": pd.Series(values, dtype=object)}))


def test_inline_rule_counts_match_python(spark):
    sources = ["ab", "", "ü", "ß", "x", "zz"]  # "" is the empty inline source
    tbl = pd.DataFrame({"s": sources, "t": ["T"] * len(sources)})
    mut = M.with_replacement_table(tbl, "s", "t", inline=True)
    # a null never matches, not even the empty source
    expected = {src: sum(v is not None and src in v for v in _COUNT_VALUES) for src in sources}
    assert mut.measure_rule_frequencies(_values_df(_COUNT_VALUES), "v") == expected


def test_phonetic_rule_counts_match_python(spark):
    tbl = pd.DataFrame(
        {"s": ["sch", "as", "ü", "b", "ß", ""], "t": ["sh", "az", "ue", "p", "ss", "e"],
         "f": ["^", "_", "", "$", "_", "^"]}
    )
    mut = M.with_phonetic_replacement_table(tbl, "s", "t", "f")
    rules = [("sch", "^"), ("as", "_")] + [("ü", f) for f in "^_$"]
    rules += [("b", "$"), ("ß", "_"), ("", "^")]

    def hit(v, pattern, flag):
        if v is None:
            return False  # a null never matches
        if flag == "^":
            return v.startswith(pattern)
        if flag == "$":
            return v.endswith(pattern)
        return pattern in v[1:-1]

    expected = [sum(hit(v, p, f) for v in _COUNT_VALUES) for p, f in rules]
    assert mut.measure_rule_frequencies(_values_df(_COUNT_VALUES), "v") == expected


@pytest.mark.parametrize("n_rules", [4, 70])
def test_regex_rule_counts_match_python(spark, n_rules):
    patterns = [r"(?P<g>\d{2})/", "", r"(?P<g>ü)", r"^(?P<g>a)b?"]
    patterns += [f"(?P<g>{i:02d})" for i in range(n_rules - len(patterns))]
    tbl = pd.DataFrame({"pattern": patterns, "g": ["X"] * n_rules})
    mut = M.with_regex_replacement_table(tbl, pattern_column="pattern")
    rng = random.Random(n_rules)
    values = _COUNT_VALUES + [
        "".join(rng.choice("0123456789") for _ in range(rng.randint(0, 6))) for _ in range(300)
    ]
    # a null is searched as "", so the empty pattern counts it
    expected = [
        sum(re.search(p, "" if v is None else v) is not None for v in values) for p in patterns
    ]
    assert mut.measure_rule_frequencies(_values_df(values), "v") == expected


def test_rule_count_job_is_labelled_and_restores_description(spark):
    """The count job runs as ``gecko:<mutator>:rule_frequencies`` and the
    caller's job description comes back afterwards, also when the job
    fails."""
    from pyspark import TaskContext

    sc = spark.sparkContext
    label = "gecko:with_regex_replacement_table:rule_frequencies"
    mut = M.with_regex_replacement_table(
        pd.DataFrame({"pattern": ["a", "b"]}), pattern_column="pattern"
    )

    def seen_label(values):  # rule 0: the task ran under the label
        desc = TaskContext.get().getLocalProperty("spark.job.description")
        return np.array([[desc == label] * len(values), [True] * len(values)])

    mut._rule_matches = seen_label
    sdf = spark.createDataFrame([("a",), ("b",), ("c",)], "v string")
    failing = sdf.select(F.raise_error(F.lit("boom")).cast("string").alias("v"))
    sc.setJobDescription("caller")
    try:
        assert mut.measure_rule_frequencies(sdf, "v") == [3, 3]
        assert sc.getLocalProperty("spark.job.description") == "caller"
        with pytest.raises(Exception, match="boom"):
            mut.measure_rule_frequencies(failing, "v")
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert sc.getLocalProperty("spark.job.description") is None


def test_strict_p_job_is_labelled_and_restores_description(spark):
    """The ``avg(eligible)`` job of ``strict_p`` runs as
    ``gecko:<mutator>:strict_p``; the caller's description comes back
    afterwards, also when the job fails."""
    from pyspark import TaskContext

    sc = spark.sparkContext
    label = "gecko:with_delete:strict_p"
    hits = sc.accumulator(0)

    def probe(v):  # counts the rows evaluated inside the labelled job
        if TaskContext.get().getLocalProperty("spark.job.description") == label:
            hits.add(1)
        return v

    sdf = spark.createDataFrame([("ab",), ("",), ("c",)], "v string")
    probed = sdf.select(F.udf(probe, "string")("v").alias("v"))
    failing = sdf.select(F.raise_error(F.lit("boom")).cast("string").alias("v"))
    sc.setJobDescription("caller")
    try:
        M.with_delete().apply(probed, "v", 0.5, strict_p=True)
        assert hits.value == 3
        assert sc.getLocalProperty("spark.job.description") == "caller"
        with pytest.raises(Exception, match="boom"):
            M.with_delete().apply(failing, "v", 0.5, strict_p=True)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)


# -- mutate_data_frame: one count job -----------------------------------------


def _tables():
    ocr = M.with_replacement_table(
        pd.DataFrame({"s": ["ab", "bc", "c"], "t": ["X", "Y", "Z"]}), "s", "t", inline=True
    )
    phonetic = M.with_phonetic_replacement_table(
        pd.DataFrame({"s": ["sch", "as"], "t": ["sh", "az"], "f": ["^", "_"]}), "s", "t", "f"
    )
    regex = M.with_regex_replacement_table(
        pd.DataFrame({"pattern": [r"(?P<d>\d)", r"(?P<c>c)"], "d": ["9", ""], "c": ["", "k"]}),
        pattern_column="pattern",
    )
    return ocr, phonetic, regex


def _rows(df):
    return [tuple(r) for r in df.orderBy("__idx__").collect()]


def test_pipeline_counts_a_written_column_over_the_mutated_frame(spark):
    """A table step reading a column an earlier step wrote orders its
    rules by counts over the MUTATED column, as applying the steps one
    at a time does. The first step turns every "rasch" into "schol",
    which flips the phonetic rule order for the "schasx" rows (over the
    input the middle rule "as" is more frequent, after it "^sch")."""
    data = pd.DataFrame({"v": ["schasx"] * 200 + ["rasch"] * 300 + ["schade"] * 200})
    sdf = spark_from_pandas(data)
    rewrite = M.with_replacement_table(pd.DataFrame({"s": ["rasch"], "t": ["schol"]}), "s", "t")
    _, phonetic, _ = _tables()
    spec = [("v", (1.0, rewrite)), ("v", (0.9, phonetic))]
    out = mutate_data_frame(sdf, spec, seed=5, key_columns=["__idx__"])

    rand = HashRandom(5, [F.col("__idx__")])
    one = rewrite.apply(sdf, ["v"], 1.0, rand=rand.fork(0))
    two = phonetic.apply(one, ["v"], 0.9, rand=rand.fork(1))
    assert _rows(out) == _rows(two)
    # over the input the order is ["as", "^sch"], after step 1 the reverse
    assert phonetic.measure_rule_frequencies(sdf, "v") == [400, 500]
    assert phonetic.measure_rule_frequencies(one, "v") == [700, 200]


def test_pipeline_counts_each_column_of_a_multi_column_step(spark):
    """Each column of a multi-column table step gets its own counts: the
    rarer source wins, and it is "bc" in v but "ab" in w."""
    v = ["ab"] * 30 + ["abc"] * 10 + ["bc"] * 5
    w = ["bc"] * 30 + ["abc"] * 10 + ["ab"] * 5
    sdf = spark_from_pandas(pd.DataFrame({"v": v, "w": w}))
    tbl = pd.DataFrame({"s": ["ab", "bc"], "t": ["X", "Y"]})
    mut = M.with_replacement_table(tbl, "s", "t", inline=True)
    out = mutate_data_frame(sdf, [(("v", "w"), mut)], seed=3, key_columns=["__idx__"])
    got = out.toPandas().sort_values("__idx__").reset_index(drop=True)
    assert (got["v"].iloc[30:40] == "aY").all()
    assert (got["w"].iloc[30:40] == "Xc").all()
    rand = HashRandom(3, [F.col("__idx__")])
    assert _rows(out) == _rows(mut.apply(sdf, ["v", "w"], 1.0, rand=rand.fork(0)))


def test_pipeline_output_is_partitioning_independent(spark):
    rng = random.Random(7)
    pool = ["schasx", "rasch", "abc", "bc", "c7", "x1c", "", None, "Müller", "schade"]
    data = pd.DataFrame({"a": [rng.choice(pool) for _ in range(600)]})
    data["b"] = data["a"].sample(frac=1.0, random_state=1).to_numpy()
    data["c"] = data["a"].sample(frac=1.0, random_state=2).to_numpy()
    sdf = spark_from_pandas(data)
    ocr, phonetic, regex = _tables()
    spec = [("a", (0.7, ocr)), ("b", (0.7, phonetic)), ("c", (0.7, regex)), ("a", (0.5, regex))]
    outs = [
        _rows(mutate_data_frame(sdf.repartition(n), spec, seed=11, key_columns=["__idx__"]))
        for n in (1, 7)
    ]
    assert outs[0] == outs[1]


def test_pipeline_runs_one_count_job_for_its_table_steps(spark):
    """Three table steps on unwritten columns: one count job (its
    shuffle may add an adaptive-execution job) while the plan is built,
    none per step."""
    data = pd.DataFrame({"a": ["abc", "schasx", "c1"] * 100})
    data["b"], data["c"] = data["a"], data["a"]
    sdf = spark_from_pandas(data).cache()
    sdf.count()
    ocr, phonetic, regex = _tables()
    spec = [("a", (0.5, ocr)), ("b", (0.5, phonetic)), ("c", (0.5, regex))]
    sc = spark.sparkContext
    sc.setJobGroup("gecko-one-count-job", "mutate_data_frame", False)
    try:
        out = mutate_data_frame(sdf, spec, seed=1, key_columns=["__idx__"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup("gecko-one-count-job")
    assert 1 <= len(jobs) <= 2, jobs
    assert out.count() == 300
    sdf.unpersist()


def _job_ids(spark, group, action):
    """Spark job ids that ``action()`` started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sc.statusTracker().getJobIdsForGroup(group)


def test_apply_counts_all_its_columns_in_one_job(spark):
    """``apply`` of a favor-rare table to two columns starts the jobs
    of one count, as to one column, not one count per column."""
    data = pd.DataFrame({"v": ["abc", "ab", "bc"] * 50})
    data["w"] = data["v"]
    sdf = spark_from_pandas(data).cache()
    sdf.count()
    ocr, _, _ = _tables()
    one = _job_ids(spark, "gecko-apply-one", lambda: ocr.apply(sdf, ["v"], 0.5, seed=1))
    two = _job_ids(spark, "gecko-apply-two", lambda: ocr.apply(sdf, ["v", "w"], 0.5, seed=1))
    assert 1 <= len(one) <= 2, one
    assert len(two) == len(one), (one, two)
    sdf.unpersist()


def test_favor_rare_table_in_a_group_uses_supplied_frequencies(spark):
    """A favor-rare table inside ``with_group`` applies the
    ``rule_frequencies`` it was given: on "abc" the supplied counts make
    "bc" the rarer source, as through ``apply``."""
    sdf = spark_from_pandas(pd.DataFrame({"v": ["abc"] * 20}))
    tbl = pd.DataFrame({"s": ["ab", "bc"], "t": ["X", "Y"]})
    mut = M.with_replacement_table(
        tbl, "s", "t", inline=True, rule_frequencies={"ab": 100, "bc": 1}
    )
    direct = mut.apply(sdf, ["v"], 1.0, seed=2).toPandas()["v"]
    grouped = M.with_group([(1.0, mut)]).apply(sdf, ["v"], 1.0, seed=2).toPandas()["v"]
    assert (direct == "aY").all()
    assert (grouped == "aY").all()


def _single_rule_tables(ocr=None, phonetic=None, regex=None):
    """One-rule inline, phonetic and regex tables; the arguments are
    their rule_frequencies."""
    return [
        M.with_replacement_table(
            pd.DataFrame({"s": ["ab"], "t": ["X"]}), "s", "t", inline=True,
            rule_frequencies=ocr,
        ),
        M.with_phonetic_replacement_table(
            pd.DataFrame({"s": ["sch"], "t": ["sh"], "f": ["^"]}), "s", "t", "f",
            rule_frequencies=phonetic,
        ),
        M.with_regex_replacement_table(
            pd.DataFrame({"pattern": [r"(?P<d>\d)"], "d": ["9"]}),
            pattern_column="pattern", rule_frequencies=regex,
        ),
    ]


def test_single_rule_tables_match_supplied_frequencies(spark):
    """A one-rule table orders trivially: counted by ``apply`` or by
    ``mutate_data_frame``, it gives the rows it gives with the counts
    supplied up front."""
    data = pd.DataFrame({"a": ["abc", "x", None, "ab ab", "schab1"] * 40})
    data["b"], data["c"] = data["a"], data["a"]
    sdf = spark_from_pandas(data)
    counted = _single_rule_tables()
    frequencies = [m.measure_rule_frequencies(sdf, "a") for m in counted]
    assert frequencies == [{"ab": 120}, [40], [40]]
    supplied = _single_rule_tables(*frequencies)
    for auto, given in zip(counted, supplied):
        a = auto.apply(sdf, ["a", "b"], 0.7, seed=4)
        b = given.apply(sdf, ["a", "b"], 0.7, seed=4)
        assert _rows(a) == _rows(b)

    def spec(tables):
        return [(c, (0.7, m)) for c, m in zip("abc", tables)]

    a = mutate_data_frame(sdf, spec(counted), seed=8, key_columns=["__idx__"])
    b = mutate_data_frame(sdf, spec(supplied), seed=8, key_columns=["__idx__"])
    assert _rows(a) == _rows(b)
    assert _rows(a) != _rows(sdf)


@pytest.mark.parametrize("rows", [[], [(i, None, None, None) for i in range(30)]])
def test_table_steps_pass_empty_and_null_columns(spark, rows):
    """An empty frame and all-null columns come out of three table
    steps unchanged."""
    sdf = spark.createDataFrame(rows, "__idx__ long, a string, b string, c string")
    ocr, phonetic, regex = _tables()
    spec = [("a", (1.0, ocr)), ("b", (1.0, phonetic)), ("c", (1.0, regex))]
    out = mutate_data_frame(sdf, spec, seed=3, key_columns=["__idx__"])
    assert _rows(out) == _rows(sdf)


# -- edge inputs ---------------------------------------------------------------

_REGEX_CSV = "pattern,flags,d,c\n(?P<d>\\d)(?P<c>c),,9,\n(?P<c>b),i,,k\n"


@pytest.mark.parametrize("missing", ["pandas_none", "pandas_nan", "spark_null"])
def test_regex_table_missing_cells_read_as_empty(spark, tmp_path, missing):
    """A missing group or flags cell of an in-memory regex table reads
    like the empty cell of the same table as CSV: an empty substitution
    (the group is deleted) and no flags."""
    csv = tmp_path / "regex.csv"
    csv.write_text(_REGEX_CSV, encoding="utf-8")
    gap = np.nan if missing == "pandas_nan" else None
    table = pd.DataFrame({
        "pattern": [r"(?P<d>\d)(?P<c>c)", r"(?P<c>b)"],
        "flags": [gap, "i"],
        "d": ["9", gap],
        "c": [gap, "k"],
    })
    if missing == "spark_null":
        table = spark.createDataFrame(table, "pattern string, flags string, d string, c string")
    sdf = spark_from_pandas(pd.DataFrame({"v": ["a1c", "xB", "zz"] * 20}))

    def run(source, flags_column):
        mut = M.with_regex_replacement_table(source, "pattern", flags_column)
        return _rows(mut.apply(sdf, ["v"], 1.0, seed=5))

    assert {v for v, _ in run(str(csv), "flags")} == {"a9", "xk", "zz"}
    for flags_column in ("flags", None):  # None: "flags" is one more group column
        assert run(table, flags_column) == run(str(csv), flags_column)


def test_duplicate_rows_share_draws_unless_keyed(spark):
    """Without ``key_columns`` the draws are keyed on every column, so
    identical rows get identical mutated values, from
    ``mutate_data_frame`` and from ``Mutator.apply`` alike; keyed on a
    row index, identical rows get draws of their own."""
    rows = [(i, v, v) for i, v in enumerate(["alpha", "bravo"] * 200)]
    keyed = spark.createDataFrame(rows, "__idx__ long, a string, orig string")
    dups = keyed.drop("__idx__")
    mut = M.with_insert()

    def outcomes(df):  # distinct mutated values per input value
        return df.toPandas().groupby("orig")["a"].nunique().to_dict()

    one_each = {"alpha": 1, "bravo": 1}
    assert outcomes(mutate_data_frame(dups, [("a", (0.5, mut))], seed=3)) == one_each
    assert outcomes(mut.apply(dups, ["a"], 0.5, seed=3)) == one_each
    for out in (
        mutate_data_frame(keyed, [("a", (0.5, mut))], seed=3, key_columns=["__idx__"]),
        mut.apply(keyed, ["a"], 0.5, rand=HashRandom(3, ["__idx__"])),
    ):
        assert min(outcomes(out).values()) > 1
