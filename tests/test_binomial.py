"""Generated shares and mutated fractions under the default randomness
(``HashRandom``) fall within perfbench's 6-sigma binomial bound
(``perfbench.workloads.binomial_error``).

The input is perfbench's ``corrupt_tables`` person table at 20 000 rows:
the top-10 shares of its ``from_multicolumn_frequency_table`` (given
names) and ``from_frequency_table`` (last names, streets) columns are
checked against the table weights, then the workload's four table
mutators run at one p and the changed fraction among each column's
eligible rows is checked against p, with no change outside them.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gecko_spark.plans.pipeline import mutate_data_frame
from perfbench import fixtures
from perfbench.tracing import Tracer
from perfbench.workloads import CorruptTables, Workload, _orig, _with_originals


class _Persons(CorruptTables):
    rows = 20_000


@pytest.mark.parametrize("p, seed", [(0.1, 11), (0.5, 12)])
def test_shares_and_mutated_fractions_within_6_sigma(spark, tmp_path, p, seed):
    wl = _Persons(spark, fixtures.make_fixtures(seed), tmp_path, Tracer(enabled=False), seed)
    wl.build()
    base = spark.read.parquet(str(wl.input))
    spec = [(c, (p, mutator)) for c, _p, mutator in wl.targets]
    dirty = mutate_data_frame(_with_originals(base), spec, seed=seed, key_columns=["__idx__"])
    eligible = wl.eligibility()
    targets = [(c, p, eligible[c]) for c, _p, _m in wl.targets]
    untouched = [c for c in base.columns if c not in eligible]
    row = dirty.agg(
        F.count(F.lit(1)).alias("n"),
        *wl.share_aggs(_orig),
        *wl.mutation_aggs(targets, untouched),
    ).first()
    assert row["n"] == wl.rows
    assert wl.share_checks(row, wl.rows) == []
    assert Workload.mutation_checks(row, targets, untouched) == []
    for c, _p, _e in targets:
        assert row[f"elig_{c}"] > 0, c
