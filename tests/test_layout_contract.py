"""Layout contract under the default randomness: every public generator
and mutator factory gives the same output whatever the input layout.

Each case runs under ``HashRandom`` at input partitions 1, 3 and 16 and
at ``spark.sql.execution.arrow.maxRecordsPerBatch`` 7 and 10 000 (the
Arrow kernels see batch boundaries), and every run must give the same
multiset of rows. Both batch sizes run on one partition, whose batches
hold the rows in input order. The batch size only reaches Python work,
so the 10 000-row layout runs only for a case whose 7-row runs executed
a plan with a Python node (an Arrow kernel, the favor-rare ``mapInPandas``
count job or ``from_function``), read from the SQL status store. The mutator input holds nulls and
duplicate rows; its first 21 rows are laid out so that a 7-row batch's
match counts invert the frame's favor-rare rule order, which a kernel
ordering its rules by its own batch would show.
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
import pytest

from gecko_spark.operators import generators as G
from gecko_spark.operators import mutators as M
from gecko_spark.plans.pipeline import mutate_data_frame, to_data_frame

# (input partitions, Arrow batch rows); the last only for Python work
LAYOUTS = [(1, 7), (3, 7), (16, 7)]
PYTHON_LAYOUT = (1, 10_000)

# the 7-row batches of the first 21 rows count ab=7 > bc=4, then ab=4 <
# bc=5, then bc=7; the frame counts ab=11 < bc=16 (cf. the f1/f2 split
# of tests/test_streaming.py)
_NAMES = (
    ["abc"] * 4 + ["abz"] * 5 + ["abc"] * 2 + ["xbc"] * 10
    + ["Philipp", "Thessa", "Custer", "", None, "ab ab", "12-34x56/78", "56/78",
       "qwe asd", "Alpha", "ALPHA", "bab", None, "éab", "\U0001F600ab", "a\nbc"]
)
_GIVEN = ["anna", "Ben", None, "", "qwerty", "Carla", "dave"]
_DOB = ["2020-01-31", "1999-12-31", None, "not a date", "2004-02-29"]
_COLOR = ["red", "green", "blue", None]

_CATEGORIES = pd.DataFrame({"color": ["red", "green", "blue"]})
_WHOLE = pd.DataFrame({"s": ["Alpha", "abz", "bab"], "t": ["Alfa", "abs", "bob"]})
_INLINE = pd.DataFrame({"s": ["ab", "bc"], "t": ["X", "Y"]})
_PHONETIC = pd.DataFrame({"s": ["ab", "bc", "ph"], "t": ["X", "Y", "f"], "f": ["^", "$", ""]})
_REGEX = pd.DataFrame({"pattern": [r"(?P<a>ab)", r"(?P<a>bc)"], "a": ["X", "Y"]})


def _rows():
    rows = []
    for i, name in enumerate(_NAMES):
        if i < 21:  # whole-row duplicates
            rows.append((name, "anna", "2020-01-31", "red"))
        else:
            rows.append((name, _GIVEN[i % 7], _DOB[i % 5], _COLOR[i % 4]))
    return rows


def _inline():
    return M.with_replacement_table(_INLINE, "s", "t", inline=True)


def _phonetic():
    return M.with_phonetic_replacement_table(_PHONETIC, "s", "t", "f")


def _regex():
    return M.with_regex_replacement_table(_REGEX, pattern_column="pattern")


def _apply(factory, columns, p=0.7):
    return lambda df, keymap: factory(keymap).apply(df, columns, p, seed=3)


MUTATOR_CASES = {
    "with_function": _apply(lambda _: M.with_function(lambda v: v and v[::-1]), "name"),
    "with_cldr_keymap_file": _apply(M.with_cldr_keymap_file, ["name", "given"]),
    "with_phonetic_replacement_table": _apply(lambda _: _phonetic(), "name", 1.0),
    "with_replacement_table": _apply(
        lambda _: M.with_replacement_table(_WHOLE, "s", "t"), "name"
    ),
    "with_replacement_table(inline)": _apply(lambda _: _inline(), ["name", "given"], 1.0),
    "with_missing_value": _apply(lambda _: M.with_missing_value("?"), "name"),
    "with_insert": _apply(lambda _: M.with_insert(), "name"),
    "with_delete": _apply(lambda _: M.with_delete(), "name"),
    "with_transpose": _apply(lambda _: M.with_transpose(), "name"),
    "with_substitute": _apply(lambda _: M.with_substitute(), "name"),
    "with_noop": _apply(lambda _: M.with_noop(), "name"),
    "with_categorical_values": _apply(
        lambda _: M.with_categorical_values(_CATEGORIES, "color"), "color"
    ),
    "with_permute": _apply(lambda _: M.with_permute(), ["name", "given"]),
    "with_lowercase": _apply(lambda _: M.with_lowercase(exact_eligibility=True), "name"),
    "with_uppercase": _apply(lambda _: M.with_uppercase(), "name"),
    "with_datetime_offset": _apply(
        lambda _: M.with_datetime_offset(3, "d", "%Y-%m-%d", prevent_wraparound=True), "dob"
    ),
    "with_generator": _apply(
        lambda _: M.with_generator(G.from_uniform_distribution(0, 9, 2), "prepend"), "given"
    ),
    "with_regex_replacement_table": _apply(lambda _: _regex(), "name", 1.0),
    "with_repeat": _apply(lambda _: M.with_repeat("-"), "given"),
    "with_group": _apply(
        lambda km: M.with_group(
            [(0.4, M.with_cldr_keymap_file(km)), (0.3, M.with_missing_value("?"))]
        ),
        ["name", "given"],
    ),
    # a favor-rare table inside a group takes the frame's rule order too
    "with_group(inline)": _apply(lambda _: M.with_group([(1.0, _inline())]), "name", 1.0),
    "with_group(phonetic)": _apply(lambda _: M.with_group([(1.0, _phonetic())]), "name", 1.0),
    "with_group(regex)": _apply(lambda _: M.with_group([(1.0, _regex())]), "name", 1.0),
    "mutate_data_frame": lambda df, km: mutate_data_frame(
        df,
        [
            # the table is counted over the column the insert wrote
            ("name", [(0.5, M.with_insert()), (0.8, _inline())]),
            ("color", M.with_categorical_values(_CATEGORIES, "color")),
            ("given", (0.9, M.with_group([(0.6, _inline()), (0.3, M.with_delete())]))),
        ],
        seed=4,
    ),
}

_FREQ = pd.DataFrame({"v": ["a", "b", "", "d"], "n": [5, 1, 2, 3]})
_MULTI = pd.DataFrame({"x": ["a", "a", "b"], "y": ["1", "2", "3"], "n": [2, 1, 4]})

GENERATOR_CASES = {
    "from_function": [("f", G.from_function(lambda x: f"v{x}", 7))],
    "from_uniform_distribution": [("u", G.from_uniform_distribution(-2, 5, 3))],
    "from_normal_distribution": [("n", G.from_normal_distribution(1, 2))],
    "from_frequency_table": [("v", G.from_frequency_table(_FREQ, "v", "n"))],
    "from_multicolumn_frequency_table": [
        (("x", "y"), G.from_multicolumn_frequency_table(_MULTI, ["x", "y"], "n"))
    ],
    "from_datetime_range": [
        ("d", G.from_datetime_range("2020-01-01", "2020-03-01", "%Y-%m-%d", "d"))
    ],
    "from_group": [
        ("g", G.from_group([(0.3, G.from_frequency_table(_FREQ, "v", "n")),
                            (0.7, G.from_uniform_distribution())])),
        ("e", G.from_group([G.from_normal_distribution(), G.from_uniform_distribution()],
                           mode="exact")),
    ],
    "to_data_frame": [
        ("u", G.from_uniform_distribution()),
        (("x", "y"), G.from_multicolumn_frequency_table(_MULTI, ["x", "y"], "n")),
        ("f", G.from_function(lambda: "k")),
    ],
}


def test_sweep_covers_every_public_factory():
    mutators = set(M.__all__) - {"Mutator"}
    generators = set(G.__all__) - {"ColumnGenerator", "GenContext"}
    assert {c.split("(")[0] for c in MUTATOR_CASES} == mutators | {"mutate_data_frame"}
    assert set(GENERATOR_CASES) == generators | {"to_data_frame"}


def _digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.fixture(scope="module")
def inputs(spark):
    """The mutator input at each partition count, cached."""
    src = spark.createDataFrame(_rows(), "name string, given string, dob string, color string")
    # coalesce keeps the rows in order, so one partition's 7-row
    # batches see the inverted counts
    frames = {1: src.coalesce(1).cache(), 3: src.repartition(3).cache(),
              16: src.repartition(16).cache()}
    for df in frames.values():
        df.count()
    yield frames
    for df in frames.values():
        df.unpersist()


# physical plan nodes that run Python: ArrowEvalPython, BatchEvalPython,
# MapInPandas, ...
_PYTHON_NODE = re.compile(r"^[\s+\-:|*]*\w*(Python|InPandas|InArrow)\w*", re.M)


def _last_execution_id(store) -> int:
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def _ran_python(spark, store, since: int) -> bool:
    """Whether an SQL execution after ``since`` ran a Python node."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    # ids ascend, and the store evicts the oldest executions first
    n = store.executionsCount()
    execs = store.executionsList(max(0, n - 100), 100)
    for i in reversed(range(execs.size())):
        e = execs.apply(i)
        if e.executionId() <= since:
            return False
        if _PYTHON_NODE.search(e.physicalPlanDescription()):
            return True
    assert n <= 100, "more than 100 new executions"
    return False


def _over_layouts(spark, build) -> dict:
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    base = spark.conf.get(conf)
    store = spark._jsparkSession.sharedState().statusStore()
    since = _last_execution_id(store)
    digests = {}
    try:
        for parts, batch in LAYOUTS:
            spark.conf.set(conf, str(batch))
            digests[(parts, batch)] = _digest(build(parts))
        if _ran_python(spark, store, since):
            parts, batch = PYTHON_LAYOUT
            spark.conf.set(conf, str(batch))
            digests[PYTHON_LAYOUT] = _digest(build(parts))
    finally:
        spark.conf.set(conf, base)
    return digests


@pytest.mark.parametrize("case", list(MUTATOR_CASES))
def test_mutator_output_is_layout_independent(spark, cldr_file, inputs, case):
    digests = _over_layouts(spark, lambda parts: MUTATOR_CASES[case](inputs[parts], cldr_file))
    assert len(set(digests.values())) == 1, digests


@pytest.mark.parametrize("case", list(GENERATOR_CASES))
def test_generator_output_is_layout_independent(spark, case):
    spec = GENERATOR_CASES[case]
    digests = _over_layouts(
        spark,
        lambda parts: to_data_frame(
            spark, spec, 200, seed=5, keep_index=True, num_partitions=parts
        ),
    )
    assert len(set(digests.values())) == 1, digests
