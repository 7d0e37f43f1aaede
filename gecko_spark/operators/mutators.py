"""Mutators: DataFrame transformations that corrupt a fraction of rows.

Reference parity: gecko/mutator.py (M1–M19 in SURVEY.md §2.2). The
shared contract (reference gecko/mutator.py:68-73 + §3.3 of SURVEY.md):

* an *eligibility* predicate marks rows the mutator could change;
* selection is Bernoulli among eligible rows — the default "lazy" mode
  draws ``u < p`` conditioned on eligibility (no extra Spark job); the
  ``strict_p`` mode of :func:`gecko_spark.plans.pipeline.mutate_data_frame`
  additionally measures the eligible fraction with one aggregation,
  rescales ``p`` and emits :class:`~gecko_spark.core.GeckoWarning` when
  the requested rate is unreachable, matching the reference exactly;
* only selected rows change; everything else passes through untouched.

Execution shape: every mutator contributes *column expressions* to one
projection — chained mutators collapse into a handful of stages under
Catalyst. String/date algebra runs JVM-side in whole-stage codegen; so
do keyboard typos and inline replacement, as higher-order ``filter`` /
``transform`` over one folded table literal. Only the phonetic and regex
tables run an Arrow ``pandas_udf``, whose inputs are (value, selection
flag, uniform draw) — kernels are pure functions, all randomness is
derived JVM-side (core.py policy), so results are
partitioning-independent.

The favor-rare tables (inline replacement, phonetic and regex tables)
order their rules by global match counts, measured by one
distinct-value job (:func:`count_rule_matches`). A kernel is always
handed its rule order: the table's ``rule_frequencies``, else the counts
its caller measured. Only ``Mutator.apply``,
``measure_rule_frequencies`` and ``mutate_data_frame`` start that job,
and they also count the tables inside a ``with_group``; a stream cannot
be counted, so there a table without ``rule_frequencies`` raises
``ValueError``. Building a kernel never runs a Spark job.

Shared plan-building steps: every mutator is applied column by column
through one method, ``Mutator._mutate_columns`` — ``apply``,
``mutate_data_frame`` and ``with_group`` differ only in how they select
rows. Table literals (:func:`~gecko_spark.core.json_literal`), the
weighted pick of ``with_group`` (:func:`~gecko_spark.core.bucket_index`)
and its weighted-list parser (:func:`~gecko_spark.core.weighted_list`)
are the ones the generators use too.
"""

from __future__ import annotations

import re
import string as _string
from itertools import accumulate
from typing import Callable, Optional, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gecko_spark.core import (
    GeckoWarning,
    HashRandom,
    RandomSource,
    bernoulli_select,
    bucket_index,
    check_probability,
    job_description,
    json_literal,
    weighted_list,
)
from gecko_spark.functions.datetime_patterns import strftime_to_spark
from gecko_spark.functions.strings import (
    delete_char_at,
    insert_char_at,
    replace_char_at,
    replace_first,
    transpose_at,
)
from gecko_spark.operators.generators import ColumnGenerator
from gecko_spark.sources.cldr import load_cldr_candidates
from gecko_spark.sources.tables import (
    TableSource,
    load_config_table,
    load_phonetic_table,
    load_regex_table,
    load_replacement_table,
)

__all__ = [
    "Mutator",
    "with_function",
    "with_cldr_keymap_file",
    "with_phonetic_replacement_table",
    "with_replacement_table",
    "with_missing_value",
    "with_insert",
    "with_delete",
    "with_transpose",
    "with_substitute",
    "with_noop",
    "with_categorical_values",
    "with_permute",
    "with_lowercase",
    "with_uppercase",
    "with_datetime_offset",
    "with_generator",
    "with_regex_replacement_table",
    "with_repeat",
    "with_group",
]

# salt layout: 0 = row selection, 1.. = mutation draws
_SALT_SELECT = 0


class Mutator:
    """Base mutator: produces mutated column expressions.

    Single-column mutators (the default) are mapped independently over
    each column they're assigned to, mirroring the reference's
    list-of-series semantics (e.g. gecko/mutator.py:699-701). Group
    mutators (``group_arity=True``) see all columns at once (permute,
    generator splice, weighted group).
    """

    name = "mutator"
    group_arity = False

    # -- single-column hooks ------------------------------------------------
    def _eligible(self, col: Column, rand: RandomSource) -> Optional[Column]:
        return None  # None = every row is eligible

    def _mutate(self, col: Column, rand: RandomSource) -> Column:
        raise NotImplementedError

    def _transform(
        self, col: Column, rand: RandomSource, selected: Column, counts: dict
    ) -> Column:
        return F.when(selected, self._mutate(col, rand)).otherwise(col)

    def _rule_tables(self) -> list:
        """The favor-rare tables this mutator applies whose rule-match
        counts callers must measure (:func:`rule_counts`); ``counts``
        maps each of them to its count vector over the column."""
        return []

    # -- group hooks ---------------------------------------------------------
    def _eligible_group(self, cols: list[Column], rand: RandomSource) -> Optional[Column]:
        return None

    def _transform_group(
        self, cols: list[Column], rand: RandomSource, selected: Column, counts: list[dict]
    ) -> list[Column]:
        raise NotImplementedError

    def _validate_group(self, n_columns: int) -> None:
        pass

    # -- driver --------------------------------------------------------------
    def apply(
        self,
        df: DataFrame,
        columns: Union[str, Sequence[str]],
        p: float = 1.0,
        rand: Optional[RandomSource] = None,
        seed: int = 0,
        strict_p: bool = False,
    ) -> DataFrame:
        """Apply this mutator to ``columns`` of ``df`` with probability p."""
        check_probability(p)
        if isinstance(columns, str):
            columns = [columns]
        columns = list(columns)
        for c in columns:
            if c not in df.columns:
                raise ValueError(
                    f"column `{c}` does not exist, must be one of `{','.join(df.columns)}`"
                )
        if rand is None:
            # key draws on ALL input columns: mutated columns alone may
            # hold constant values, which would make every row share one
            # draw (all-or-nothing selection)
            rand = HashRandom(seed, [F.col(c) for c in df.columns])
        counts = rule_counts(df, [(c, self) for c in columns], self.name)
        return self._apply(df, columns, p, rand, strict_p, counts)

    def _apply(
        self,
        df: DataFrame,
        columns: list[str],
        p: float,
        rand: RandomSource,
        strict_p: bool,
        counts: list[dict],
    ) -> DataFrame:
        """``apply`` after validation; ``counts[i]`` holds the rule-match
        counts already measured over ``columns[i]`` (:func:`rule_counts`)."""
        if self.group_arity:
            self._validate_group(len(columns))

        def select(r: RandomSource, eligible: Optional[Column]) -> Column:
            p_eff = self._strict_rescale(df, eligible, p) if strict_p else p
            return bernoulli_select(r, _SALT_SELECT, p_eff, eligible)

        mutated = self._mutate_columns([F.col(c) for c in columns], rand, select, counts)
        out = dict(zip(columns, mutated))
        return df.select(
            *[out[c].alias(c) if c in out else F.col(c) for c in df.columns]
        )

    def _mutate_columns(
        self,
        cols: list[Column],
        rand: RandomSource,
        select: Callable[[RandomSource, Optional[Column]], Column],
        counts: list[dict],
    ) -> list[Column]:
        """``cols`` mutated on the rows ``select(rand, eligible)`` picks:
        the one per-column path of ``apply``, ``mutate_data_frame`` and
        ``with_group``. A group mutator sees every column at once; a
        single-column mutator forks ``rand`` per column. ``counts[i]``
        maps each of ``_rule_tables()`` to its rule-match counts over
        column ``i``."""
        if self.group_arity:
            selected = select(rand, self._eligible_group(cols, rand))
            return self._transform_group(cols, rand, selected, counts)
        out = []
        for i, col in enumerate(cols):
            r = rand.fork(i)
            out.append(self._transform(col, r, select(r, self._eligible(col, r)), counts[i]))
        return out

    def _strict_rescale(self, df: DataFrame, eligible: Optional[Column], p: float) -> float:
        """Measure the eligible fraction (one aggregation job), warn when
        p is unreachable, and rescale so the overall mutated fraction ≈ p
        — the reference's exact contract (gecko/mutator.py:68-73,
        :688-691)."""
        import warnings

        if eligible is None:
            return p
        with job_description(df.sparkSession, f"gecko:{self.name}:strict_p"):
            # a null test (a null value) counts as ineligible: avg
            # would drop it from the denominator
            row = df.select(
                F.avg(F.coalesce(eligible, F.lit(False)).cast("double")).alias("pa")
            ).first()
        p_actual = row["pa"] or 0.0
        if p_actual < p:
            warnings.warn(
                f"{self.name}: desired probability of {p} cannot be met since "
                f"percentage of rows that could possibly be mutated is {p_actual}",
                GeckoWarning,
            )
        if p_actual <= 0:
            return 0.0
        return min(1.0, p / p_actual)

    # gecko calling convention: mutator(df, columns, p)
    def __call__(self, df: DataFrame, columns, p: float = 1.0, **kw) -> DataFrame:
        return self.apply(df, columns, p, **kw)


# ---------------------------------------------------------------------------
# Simple column mutators
# ---------------------------------------------------------------------------


class _MissingValue(Mutator):
    name = "with_missing_value"

    def __init__(self, value: str = "", nulls_eligible: bool = False):
        self.value = value
        self.nulls_eligible = nulls_eligible

    def _eligible(self, col, rand):
        # SQL three-valued logic: ``col != value`` is NULL for null rows,
        # so nulls are ineligible by default (nulls stay null, and don't
        # count in the strict_p rescale denominator). The reference's
        # pandas ``srs != value`` is True for NaN, so it DOES overwrite
        # missing rows (gecko/mutator.py:678) — pass
        # ``nulls_eligible=True`` for that reference-exact behavior.
        cmp = col != F.lit(self.value)
        if self.nulls_eligible:
            return cmp | col.isNull()
        return cmp

    def _mutate(self, col, rand):
        return F.lit(self.value)


def with_missing_value(value: str = "", nulls_eligible: bool = False) -> Mutator:
    """Overwrite selected rows with a sentinel (gecko/mutator.py:658-702).

    Null policy: by default null rows are left null and are NOT counted
    as mutable for p-rescaling — a documented divergence from the
    reference, whose ``srs != value`` comparison treats NaN as eligible
    and fills it with the sentinel. Set ``nulls_eligible=True`` to
    reproduce the reference exactly on null-bearing input.
    """
    return _MissingValue(value, nulls_eligible=nulls_eligible)


def _charset_list(charset: Union[str, Sequence[str]]) -> list[str]:
    chars = list(charset)
    if not chars:
        raise ValueError("charset must not be empty")
    return chars


class _Insert(Mutator):
    name = "with_insert"

    def __init__(self, charset: Union[str, Sequence[str]] = _string.ascii_letters):
        self.charset = _charset_list(charset)

    def _mutate(self, col, rand):
        pos = rand.uniform_int(1, F.length(col) + F.lit(1))
        ch = rand.choice(2, self.charset)
        return insert_char_at(col, pos, ch)


def with_insert(charset: Union[str, Sequence[str]] = _string.ascii_letters) -> Mutator:
    """Insert one random char at a uniform position, position len appends
    (gecko/mutator.py:705-759)."""
    return _Insert(charset)


class _Delete(Mutator):
    name = "with_delete"

    def _eligible(self, col, rand):
        return F.length(col) >= 1  # gecko/mutator.py:778-779

    def _mutate(self, col, rand):
        pos = rand.uniform_int(1, F.length(col))
        return delete_char_at(col, pos)


def with_delete() -> Mutator:
    """Delete one char at a uniform position (gecko/mutator.py:762-812)."""
    return _Delete()


class _Transpose(Mutator):
    name = "with_transpose"

    def _eligible(self, col, rand):
        return F.length(col) >= 2  # gecko/mutator.py:834-835

    def _mutate(self, col, rand):
        pos = rand.uniform_int(1, F.length(col) - F.lit(1))
        return transpose_at(col, pos)


def with_transpose() -> Mutator:
    """Swap two adjacent chars; identical neighbors may swap to a no-op,
    same as the reference (gecko/mutator.py:815-871)."""
    return _Transpose()


class _Substitute(Mutator):
    name = "with_substitute"

    def __init__(self, charset: Union[str, Sequence[str]] = _string.ascii_letters):
        self.charset = _charset_list(charset)

    def _eligible(self, col, rand):
        return F.length(col) >= 1

    def _mutate(self, col, rand):
        pos = rand.uniform_int(1, F.length(col))
        ch = rand.choice(2, self.charset)
        return replace_char_at(col, pos, ch)


def with_substitute(charset: Union[str, Sequence[str]] = _string.ascii_letters) -> Mutator:
    """Replace one char at a uniform position with a random charset char
    (self-replacement possible, gecko/mutator.py:874-938)."""
    return _Substitute(charset)


class _Noop(Mutator):
    name = "with_noop"

    def _transform(self, col, rand, selected, counts):
        return col


def with_noop() -> Mutator:
    """Identity (gecko/mutator.py:941-955)."""
    return _Noop()


def _not_is_cased_kernel(method: str):
    """Arrow kernel for the reference's exact ``~str.islower()`` /
    ``~str.isupper()`` eligibility (gecko/mutator.py:1141, :1185).
    Python's ``islower``/``isupper`` are False for cased-character-free
    strings ("123", ""), which makes those rows ELIGIBLE in the
    reference; nulls stay ineligible (engine-wide null policy)."""

    @F.pandas_udf(T.BooleanType())
    def _kern(vals: pd.Series) -> pd.Series:
        return pd.Series(
            [False if v is None else not getattr(v, method)() for v in vals],
            dtype=bool,
        )

    return _kern


class _ChangeCase(Mutator):
    """Lower- or upper-case the value: ``convert`` is ``F.lower`` or
    ``F.upper``, ``method`` the matching ``str`` predicate (``islower``
    or ``isupper``) of the reference's eligibility."""

    def __init__(self, name: str, convert, method: str, exact_eligibility: bool):
        self.name, self.convert, self.method = name, convert, method
        self.exact = exact_eligibility

    def _eligible(self, col, rand):
        if self.exact:
            return _not_is_cased_kernel(self.method)(col)
        # Column approximation of Python's ~str.islower() / ~isupper()
        # eligibility (gecko/mutator.py:1141-1142): differs only for
        # strings with no cased characters, whose mutation is a no-op
        # anyway — but under strict_p those rows change the measured
        # eligible fraction, so the warning/rescale can deviate from the
        # reference on digit-heavy columns. exact_eligibility=True
        # restores parity at the cost of one Arrow kernel per row.
        return col != self.convert(col)

    def _mutate(self, col, rand):
        return self.convert(col)


def with_lowercase(exact_eligibility: bool = False) -> Mutator:
    """``exact_eligibility``: use the reference's exact ``~islower()``
    row eligibility (counts cased-character-free strings as eligible)
    instead of the JVM-side ``col != lower(col)`` approximation —
    mutation output is identical either way; only the ``strict_p``
    warning threshold/rescale on such rows differs."""
    return _ChangeCase("with_lowercase", F.lower, "islower", exact_eligibility)


def with_uppercase(exact_eligibility: bool = False) -> Mutator:
    """See :func:`with_lowercase` — same ``exact_eligibility`` contract
    with ``~isupper()``."""
    return _ChangeCase("with_uppercase", F.upper, "isupper", exact_eligibility)


class _Repeat(Mutator):
    name = "with_repeat"

    def __init__(self, join_with: str = " "):
        self.join_with = join_with

    def _mutate(self, col, rand):
        return F.concat(col, F.lit(self.join_with), col)


def with_repeat(join_with: str = " ") -> Mutator:
    """Duplicate the value with a separator (gecko/mutator.py:1593-1620)."""
    return _Repeat(join_with)


class _CategoricalValues(Mutator):
    name = "with_categorical_values"

    def __init__(self, uniques: list[str]):
        if len(uniques) < 2:
            raise ValueError(
                "categorical values mutator requires at least two distinct values"
            )
        self.uniques = sorted(uniques)

    def _eligible(self, col, rand):
        return col.isin(self.uniques)  # gecko/mutator.py:1016-1018

    def _mutate(self, col, rand):
        arr = json_literal(self.uniques, "array<string>")
        others = F.array_remove(arr, col)  # the k-1 different values
        pick = rand.uniform_int(1, F.size(others))
        return F.element_at(others, (pick + F.lit(1)).cast("int"))


def with_categorical_values(
    data_source: TableSource,
    value_column: Union[str, int] = 0,
    encoding: str = "utf-8",
    delimiter: str = ",",
) -> Mutator:
    """Replace a categorical value with a *different* one from the unique
    set of a config column (gecko/mutator.py:958-1056)."""
    tbl = load_config_table(data_source, [value_column], delimiter=delimiter, encoding=encoding)
    uniques = sorted(set(tbl.iloc[:, 0].tolist()))
    return _CategoricalValues(uniques)


# ---------------------------------------------------------------------------
# Datetime offset
# ---------------------------------------------------------------------------

_UNIT_ALIASES = {
    "d": "DAY", "days": "DAY",
    "h": "HOUR", "hours": "HOUR",
    "m": "MINUTE", "minutes": "MINUTE",
    "s": "SECOND", "seconds": "SECOND",
}
_WRAP_FIELD = {"DAY": F.month, "HOUR": F.dayofmonth, "MINUTE": F.hour, "SECOND": F.minute}


class _DatetimeOffset(Mutator):
    name = "with_datetime_offset"

    def __init__(self, max_delta: int, unit: str, dt_format: str, prevent_wraparound: bool):
        if max_delta <= 0:
            raise ValueError(f"delta must be positive, is {max_delta}")
        if unit not in _UNIT_ALIASES:
            raise ValueError(f"unrecognized unit: `{unit}`")
        self.max_delta = max_delta
        self.unit = _UNIT_ALIASES[unit]
        self.dt_format = dt_format
        self.spark_format = strftime_to_spark(dt_format)
        self.prevent_wraparound = prevent_wraparound

    def _ts(self, col):
        return F.try_to_timestamp(col, F.lit(self.spark_format))

    def _eligible(self, col, rand):
        return self._ts(col).isNotNull()

    def _mutate(self, col, rand):
        ts = self._ts(col)
        # uniform magnitude 1..max_delta, uniform sign (gecko/mutator.py:1252-1257)
        magnitude = rand.uniform_int(1, self.max_delta) + F.lit(1)
        sign = F.when(rand.uniform(2) < F.lit(0.5), F.lit(-1)).otherwise(F.lit(1))
        out_ts = F.timestamp_add(self.unit, (magnitude * sign).cast("int"), ts)
        if self.prevent_wraparound:
            field = _WRAP_FIELD[self.unit]
            out_ts = F.when(field(out_ts) != field(ts), ts).otherwise(out_ts)
        return F.date_format(out_ts, self.spark_format)


def with_datetime_offset(
    max_delta: int,
    unit: str,
    dt_format: str,
    prevent_wraparound: bool = False,
) -> Mutator:
    """Offset datetimes by a uniform nonzero signed delta in ±1..±max_delta
    units; optionally revert offsets that change the next-coarser field
    (gecko/mutator.py:1213-1297)."""
    return _DatetimeOffset(max_delta, unit, dt_format, prevent_wraparound)


# ---------------------------------------------------------------------------
# Permute (multi-column)
# ---------------------------------------------------------------------------


def _derangements(k: int) -> list[tuple[int, ...]]:
    """All permutations of range(k) with no fixed point
    (gecko/mutator.py:1074-1079; k is small — spec columns)."""
    import itertools

    return [
        perm
        for perm in itertools.permutations(range(k))
        if all(perm[i] != i for i in range(k))
    ]


class _Permute(Mutator):
    name = "with_permute"
    group_arity = True

    def _validate_group(self, n_columns: int) -> None:
        if n_columns < 2:
            raise ValueError("permute mutator requires at least two columns")

    def _transform_group(self, cols, rand, selected, counts):
        ders = _derangements(len(cols))
        d = rand.uniform_int(1, len(ders))
        out = []
        for i in range(len(cols)):
            expr = cols[i]
            for j, perm in enumerate(ders):
                expr = F.when(selected & (d == F.lit(j)), cols[perm[i]]).otherwise(expr)
            out.append(expr)
        return out


def with_permute() -> Mutator:
    """Swap values between columns per selected row using a uniformly
    chosen derangement (no value stays in place —
    gecko/mutator.py:1059-1122). Pure Column ops, no shuffle."""
    return _Permute()


# ---------------------------------------------------------------------------
# Generator splice (multi-column)
# ---------------------------------------------------------------------------


class _WithGenerator(Mutator):
    name = "with_generator"
    group_arity = True

    def __init__(self, generator: ColumnGenerator, mode: str, join_with: str):
        if mode not in ("prepend", "append", "replace"):
            raise ValueError(f"invalid mode: `{mode}`")
        self.generator = generator
        self.mode = mode
        # `{}` marks where generated values go (gecko/mutator.py:1324-1337)
        parts = join_with.split("{}", maxsplit=1)
        if len(parts) == 1:
            if mode == "prepend":
                self.before, self.after = "", parts[0]
            else:
                self.before, self.after = parts[0], ""
        else:
            self.before, self.after = parts[0], parts[1]

    def _validate_group(self, n_columns: int) -> None:
        if self.generator.arity != n_columns:
            raise ValueError(
                f"generator must generate as many series as provided to the mutator: "
                f"got {self.generator.arity}, expected {n_columns}"
            )

    def _transform_group(self, cols, rand, selected, counts):
        gen_cols = self.generator.columns(rand.fork(7))
        out = []
        for col, gen in zip(cols, gen_cols):
            piece = F.concat(F.lit(self.before), gen, F.lit(self.after))
            if self.mode == "replace":
                mutated = gen
            elif self.mode == "prepend":
                mutated = F.concat(piece, col)
            else:
                mutated = F.concat(col, piece)
            out.append(F.when(selected, mutated).otherwise(col))
        return out


def with_generator(
    generator: ColumnGenerator,
    mode: str,
    join_with: str = " ",
) -> Mutator:
    """Prepend/append/replace selected rows with generator output
    (gecko/mutator.py:1300-1389). Expression-style generators make this
    a pure projection — no joins, unlike the reference's
    reindex-alignment."""
    return _WithGenerator(generator, mode, join_with)


# ---------------------------------------------------------------------------
# Weighted group multiplexer (multi-column)
# ---------------------------------------------------------------------------


class _Group(Mutator):
    name = "with_group"
    group_arity = True

    def __init__(self, weighted: list[tuple[float, Mutator]]):
        p_sum = sum(w for w, _ in weighted)
        if p_sum > 1:
            raise ValueError(f"sum of weights must not be higher than 1, is {p_sum}")
        if p_sum <= 0:
            raise ValueError(f"sum of weights must be higher than 0, is {p_sum}")
        for i, (w, _) in enumerate(weighted):
            if w <= 0:
                raise ValueError(
                    f"weight of mutator at index {i} must be higher than zero, is {w}"
                )
        if p_sum != 1:
            weighted = weighted + [(1 - p_sum, with_noop())]
        self.weighted = weighted

    def _rule_tables(self):
        # a sub-mutator only changes rows no other one changes, so its
        # tables are counted over the group's input column
        return list(dict.fromkeys(t for _, mut in self.weighted for t in mut._rule_tables()))

    def _transform_group(self, cols, rand, selected, counts):
        # per-row mutator index ~ weights (gecko/mutator.py:1700-1703)
        idx = bucket_index(rand.uniform(1), list(accumulate(w for w, _ in self.weighted[:-1])))
        outs = list(cols)
        for j, (_, mut) in enumerate(self.weighted):
            if isinstance(mut, _Noop):
                continue
            sel_j = selected & (idx == F.lit(j))
            outs = mut._mutate_columns(
                outs, rand.fork(j + 2),
                lambda _r, elig: sel_j if elig is None else (sel_j & elig), counts,
            )
        return outs


def with_group(
    mutator_lst: Union[list[Mutator], list[tuple[float, Mutator]]],
) -> Mutator:
    """Mutually-exclusive multiplexer: each selected row draws ONE
    sub-mutator from the weight distribution; weights must sum to ≤ 1,
    shortfall padded with a no-op (gecko/mutator.py:1641-1717).

    All sub-mutators condition on the same drawn index column, so the
    whole group stays a single projection — no shuffle, no union.
    """
    return _Group(weighted_list(mutator_lst, Mutator, "mutator"))


# ---------------------------------------------------------------------------
# UDF escape hatch
# ---------------------------------------------------------------------------


class _WithFunction(Mutator):
    name = "with_function"

    def __init__(self, func: Callable[..., str], args: tuple, kwargs: dict):
        self.func, self.args, self.kwargs = func, args, kwargs

    def _transform(self, col, rand, selected, counts):
        func, args, kwargs = self.func, self.args, self.kwargs

        @F.pandas_udf(T.StringType())
        def _apply(vals: pd.Series, sel: pd.Series) -> pd.Series:
            out = vals.copy()
            mask = _selection_mask(sel)
            # a None return stays null — str() would turn it into the
            # literal string "None"
            out[mask] = [
                None if r is None else str(r)
                for r in (func(v, *args, **kwargs) for v in vals[mask])
            ]
            return out

        return _apply(col, selected)


def with_function(func: Callable[..., str], *args, **kwargs) -> Mutator:
    """Arbitrary scalar ``func(value) -> str`` on selected rows — the
    non-vectorized escape hatch (gecko/mutator.py:76-117). Selected
    null rows reach ``func`` as ``None`` (the reference passes NaN);
    handling them is the function's contract."""
    return _WithFunction(func, args, kwargs)


# ---------------------------------------------------------------------------
# Table-driven mutators
# ---------------------------------------------------------------------------


def _selection_mask(sel: pd.Series) -> np.ndarray:
    """An Arrow kernel's selection flags as a ``bool`` array. A flag is
    null where the value's eligibility test is null; such a row is not
    selected."""
    return sel.to_numpy(dtype=bool, na_value=False)


def _expand_u(u: np.ndarray, salt: int) -> np.ndarray:
    """Derive a fresh uniform array from a base uniform array — a
    deterministic per-row LCG step so kernels needing many draws per row
    stay pure functions of their inputs."""
    m = (u * 2147483648.0).astype(np.int64)
    m = (m * 1103515245 + 12345 + salt * 104729) % 2147483648
    return m.astype(np.float64) / 2147483648.0


def _contains(col: Column, part: Column) -> Column:
    """``part in col``: the one match test of the keyboard-typo and
    inline-replacement tables, for eligibility and kernel alike."""
    return F.instr(col, part) > 0


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row. Spark
    generates no code for ``filter`` and ``transform`` and would
    re-evaluate ``value`` at every use inside ``body``."""
    return F.get(F.transform(F.array(value), body), 0)


def _pick(rand: RandomSource, salt: int, arr: Column) -> Column:
    """Element ``floor(u * size)`` of ``arr``; null when it is empty."""
    return F.get(arr, rand.uniform_int(salt, F.size(arr)).cast("int"))


class _CldrKeymap(Mutator):
    name = "with_cldr_keymap_file"

    def __init__(self, candidates: dict[str, str]):
        if not candidates:
            raise ValueError("keymap produced no typo candidates")
        self.candidates = candidates

    def _keymap(self) -> Column:
        # in the map's order (gecko/mutator.py:236-242 accumulates per key)
        entries = [{"key": k, "nbrs": v} for k, v in self.candidates.items()]
        return json_literal(entries, "array<struct<key:string,nbrs:string>>")

    def _eligible(self, col, rand):
        return F.exists(self._keymap(), lambda e: _contains(col, e["key"]))

    def _mutate(self, col, rand):
        # a random key the value contains, then a random neighbour: one
        # code point of the key's neighbour string, spliced in for the
        # key's first occurrence
        def typo(e):
            nbr = e["nbrs"].substr(rand.uniform_int(2, F.length(e["nbrs"])) + 1, F.lit(1))
            return replace_first(col, e["key"], nbr)

        pool = F.filter(self._keymap(), lambda e: _contains(col, e["key"]))
        return _let(pool, lambda p: _let(_pick(rand, 1, p), typo))


def with_cldr_keymap_file(
    cldr_path,
    charset: Union[str, Sequence[str], None] = None,
) -> Mutator:
    """Keyboard typos from a CLDR keymap: replace the first occurrence of
    a random mapped char with one of its keyboard neighbors
    (gecko/mutator.py:120-306). XML parsed once on the driver; the
    candidate map enters the plan as one folded literal."""
    return _CldrKeymap(load_cldr_candidates(cldr_path, charset))


# ---------------------------------------------------------------------------
# Favor-rare rule counts
# ---------------------------------------------------------------------------


def count_rule_matches(
    df: DataFrame,
    pairs: Sequence[tuple[Union[str, Column], _FavorRareTable]],
    caller: str,
) -> list[np.ndarray]:
    """Global per-rule match counts for each ``(column, mutator)`` pair,
    all in ONE Spark job over ``df``.

    The columns are stacked into ``(slot, value)`` rows and grouped by
    distinct value, so each mutator's ``_rule_matches`` runs once per
    distinct value of its column, weighted by the value's row count.
    Every Arrow batch emits one partial count vector and the driver sums
    them: it holds O(batches × rules) integers, whatever the column
    cardinality. The job is described as
    ``gecko:<caller>:rule_frequencies``; no job when ``pairs`` is
    empty."""
    if not pairs:
        return []
    matchers = [mut._rule_matches for _, mut in pairs]
    bounds = np.cumsum([0] + [len(mut.rules) for _, mut in pairs])

    def _partial_counts(batches):
        for b in batches:
            slots = b["slot"].to_numpy()
            values = b["value"].to_numpy(dtype=object)
            weights = b["count"].to_numpy(dtype=np.int64)
            counts = np.zeros(bounds[-1], dtype=np.int64)
            for s, match in enumerate(matchers):
                rows = slots == s
                if rows.any():
                    hits = match(values[rows]).astype(np.int64)
                    counts[bounds[s] : bounds[s + 1]] = hits @ weights[rows]
            yield pd.DataFrame({"counts": [counts]})

    stack_args = []
    for s, (c, _) in enumerate(pairs):
        col = F.col(c) if isinstance(c, str) else c
        stack_args += [F.lit(s), col.cast("string")]
    partials = (
        df.select(F.stack(F.lit(len(pairs)), *stack_args).alias("slot", "value"))
        .groupBy("slot", "value")
        .count()
        .mapInPandas(_partial_counts, "counts array<bigint>")
    )
    with job_description(df.sparkSession, f"gecko:{caller}:rule_frequencies"):
        rows = partials.collect()
    total = np.zeros(bounds[-1], dtype=np.int64)
    for row in rows:
        total += np.asarray(row["counts"], dtype=np.int64)
    return [total[lo:hi] for lo, hi in zip(bounds[:-1], bounds[1:])]


def rule_counts(
    df: DataFrame, entries: Sequence[tuple[Union[str, Column], Mutator]], caller: str
) -> list[dict]:
    """For each ``(column, mutator)`` entry, ``{table: counts}`` over the
    column for every favor-rare table the mutator applies
    (``_rule_tables``), all from ONE :func:`count_rule_matches` job.

    A stream cannot be counted (a static aggregate over an unbounded
    input is undefined), so there a table without ``rule_frequencies``
    raises ``ValueError`` while the plan is built."""
    pairs = [(c, t) for c, mut in entries for t in mut._rule_tables()]
    if pairs and df.isStreaming:
        names = ", ".join(sorted({t.name for _, t in pairs}))
        raise ValueError(
            f"{names} without rule_frequencies cannot order its rules on a "
            "stream: measure them once over a static frame with "
            "measure_rule_frequencies and pass them as rule_frequencies"
        )
    vectors = iter(count_rule_matches(df, pairs, caller))
    return [{t: next(vectors) for t in mut._rule_tables()} for _, mut in entries]


class _FavorRareTable(Mutator):
    """A table mutator that applies its ``rules`` in favor-rare order,
    taken from each rule's match count over the whole column (the
    reference's two-phase design, gecko/mutator.py:411-478, :592-624;
    SURVEY §3.3). A global order makes every row's outcome a property
    of the dataset, not of Arrow batch boundaries — which is what lets
    the DuckDB oracle replay it exactly.

    The mutator never counts by itself. ``_transform`` takes the
    caller-supplied ``rule_frequencies`` if there are any, else the
    counts its caller handed in (``apply`` and ``mutate_data_frame``
    measure them with :func:`rule_counts`, also inside ``with_group``),
    and hands ``_kernel`` the rule order.

    ``_kernel`` is the Arrow inverse-option rule assignment of the
    phonetic and regex tables (gecko/mutator.py:443-478): rules go most
    frequent first, and a row that still has ``k`` matching rules left
    accepts the current one with chance 1/k, so rare rules win. A
    subclass supplies ``_rewrite``."""

    rules: list
    rule_frequencies = None

    def _rule_matches(self, values: np.ndarray) -> np.ndarray:
        """``bool[rules, n]``: which rules match each value. The count
        runs it on the distinct values of the frame, the Arrow kernel on
        those of its batch's selected rows."""
        raise NotImplementedError

    def _rewrite(self, values: np.ndarray, rule) -> np.ndarray:
        """``rule`` applied to each of the distinct ``values`` it
        matches."""
        raise NotImplementedError

    def _order_from(self, counts: Sequence[int]) -> list[int]:
        """Rules that match at all, most frequent first."""
        return sorted(
            (r for r in range(len(self.rules)) if counts[r] > 0),
            key=lambda r: (-counts[r], r),
        )

    def _supplied_counts(self) -> Optional[Sequence[int]]:
        return self.rule_frequencies

    def _rule_tables(self):
        return [self] if self.rule_frequencies is None else []

    def _frequencies(self, counts: np.ndarray):
        return [int(c) for c in counts]

    def measure_rule_frequencies(self, df: DataFrame, column):
        """Per-rule match counts over a static frame, aligned with the
        table's rules (a ``{source: count}`` dict for the replacement
        table): the counts behind the global favor-rare order,
        from the one count job (:func:`count_rule_matches`) that
        ``apply`` and ``mutate_data_frame`` also run. Feed the result
        back via ``rule_frequencies`` to (a) skip that job on repeated
        applications or (b) give a STREAM the dataset-global rule
        order, which a stream cannot measure itself (a static aggregate
        over an unbounded input is undefined; MIGRATION.md "Streaming
        rule order")."""
        return self._frequencies(count_rule_matches(df, [(column, self)], self.name)[0])

    def _transform(self, col, rand, selected, counts):
        supplied = self._supplied_counts()
        order = self._order_from(counts[self] if supplied is None else supplied)
        return self._kernel(col, rand, selected, order)

    def _kernel(self, col, rand, selected, order: list[int]):
        """Arrow kernel applying the rules in ``order`` (rule indices)."""
        rules, rule_matches, rewrite = self.rules, self._rule_matches, self._rewrite

        @F.pandas_udf(T.StringType())
        def _inverse_option(vals: pd.Series, sel: pd.Series, u: pd.Series) -> pd.Series:
            mask = _selection_mask(sel)
            if not mask.any():
                return vals.copy()
            out_np = vals.to_numpy(dtype=object).copy()
            # Only the selected rows run: each row's draws and options
            # depend on that row alone. FACTORIZE them: rule matches and
            # rewrites are pure functions of the VALUE, so they run once
            # per distinct value and fan back out through the codes. The
            # per-row accept/skip draws are untouched, so outputs are
            # bit-identical.
            picked = np.flatnonzero(mask)
            codes, uniques = pd.factorize(vals[mask].fillna(""))
            uniq_np = np.asarray(uniques, dtype=object)
            match = rule_matches(uniq_np)[:, codes]
            options = match.sum(axis=0).astype(np.float64)
            au = u.to_numpy(np.float64)[mask]
            done = np.zeros(len(picked), dtype=bool)
            for step, r in enumerate(order):
                au = _expand_u(au, step + 1)
                prob = np.where(options > 0, 1.0 / np.maximum(options, 1.0), 0.0)
                rows = ~done & match[r] & (au < prob)
                options[match[r] & ~rows] -= 1
                if not rows.any():
                    continue
                sel_codes, inverse = np.unique(codes[rows], return_inverse=True)
                new = rewrite(uniq_np[sel_codes], rules[r])[inverse]
                changed = new != uniq_np[codes[rows]]
                idx = np.flatnonzero(rows)[changed]
                out_np[picked[idx]] = new[changed]
                done[idx] = True
            return pd.Series(out_np, index=vals.index)

        return _inverse_option(col, selected, rand.uniform(1))


class _WholeValueReplacement(Mutator):
    name = "with_replacement_table"

    def __init__(self, targets: dict[str, list[str]]):
        self.targets = targets

    def _eligible(self, col, rand):
        return col.isin(list(self.targets))

    def _transform(self, col, rand, selected, counts):
        # pure Column algebra: a map-literal lookup plus a uniform pick
        # among the source's targets (gecko/mutator.py:595-599 equality
        # match)
        tgt_arr = F.element_at(json_literal(self.targets, "map<string,array<string>>"), col)
        pick = rand.uniform_int(1, F.size(tgt_arr))
        mutated = F.element_at(tgt_arr, (pick + F.lit(1)).cast("int"))
        return F.when(selected & tgt_arr.isNotNull(), mutated).otherwise(col)


class _InlineReplacement(_FavorRareTable):
    name = "with_replacement_table"

    def __init__(self, targets: dict[str, list[str]], rule_frequencies: Optional[dict]):
        self.targets = targets
        self.rules = list(targets)  # the sources
        if rule_frequencies is not None:
            unknown = set(rule_frequencies) - set(self.rules)
            if unknown:
                raise ValueError(
                    f"rule_frequencies keys not in the table's sources: {sorted(unknown)}"
                )
        self.rule_frequencies = rule_frequencies

    def _rule_matches(self, values):
        # substring match; a null matches nothing
        return np.array(
            [[v is not None and src in v for v in values] for src in self.rules],
            dtype=bool,
        )

    def _order_from(self, counts):
        # ascending: the rarest source wins (gecko/mutator.py:618-624)
        return sorted(
            (r for r in range(len(self.rules)) if counts[r] > 0),
            key=lambda r: (counts[r], self.rules[r]),
        )

    def _supplied_counts(self):
        if self.rule_frequencies is None:
            return None
        return [int(self.rule_frequencies.get(src, 0)) for src in self.rules]

    def _frequencies(self, counts):
        return {src: int(c) for src, c in zip(self.rules, counts)}

    def _eligible(self, col, rand):
        return F.exists(json_literal(self.rules, "array<string>"), lambda s: _contains(col, s))

    def _kernel(self, col, rand, selected, order):
        # the first source in ``order`` that the value contains, spliced
        # in for its first occurrence with one of its targets
        ordered = [{"src": self.rules[r], "tgts": self.targets[self.rules[r]]} for r in order]
        table = json_literal(ordered, "array<struct<src:string,tgts:array<string>>>")
        first = F.get(F.filter(table, lambda e: _contains(col, e["src"])), 0)
        mutated = _let(first, lambda e: replace_first(col, e["src"], _pick(rand, 1, e["tgts"])))
        return F.when(selected, mutated).otherwise(col)


def with_replacement_table(
    data_source: TableSource,
    source_column: Union[str, int] = 0,
    target_column: Union[str, int] = 1,
    inline: bool = False,
    reverse: bool = False,
    encoding: str = "utf-8",
    delimiter: str = ",",
    rule_frequencies: Optional[dict] = None,
) -> Mutator:
    """Generic replacement table, whole-value or substring (inline)
    matching, optional bidirectional union (gecko/mutator.py:510-655).

    Both modes never leave the JVM: whole-value mode is a map-literal
    lookup plus a seeded pick. Inline mode reproduces the reference's
    ascending-match-frequency first-occurrence semantics
    (gecko/mutator.py:618-647) as Column algebra over one table literal
    in that order, with the source frequencies from the distinct-value
    count job — one per ``mutate_data_frame``, shared by all its table
    steps — so rule precedence is dataset-wide, deterministic under any
    partitioning, and exactly oracle-checkable. ``rule_frequencies``
    (inline mode; a ``{source: count}`` mapping, typically from
    ``measure_rule_frequencies`` over historical data) supplies those
    counts up front — no count job, and a STREAMING frame gets the same
    dataset-global rule order as batch (without it, a stream raises
    ``ValueError``: it cannot be counted)."""
    table = load_replacement_table(
        data_source, source_column, target_column, reverse=reverse,
        delimiter=delimiter, encoding=encoding,
    )
    if table.empty:
        raise ValueError("replacement table is empty")
    # source -> list of targets, preserving table order
    targets: dict[str, list[str]] = {}
    for src, tgt in zip(table["source"], table["target"]):
        targets.setdefault(src, []).append(tgt)
    if inline:
        return _InlineReplacement(targets, rule_frequencies)
    return _WholeValueReplacement(targets)


def _aligned_frequencies(rule_frequencies, n_rules: int) -> Optional[list[int]]:
    if rule_frequencies is None:
        return None
    counts = [int(c) for c in rule_frequencies]
    if len(counts) != n_rules:
        raise ValueError(
            f"rule_frequencies must align with the {n_rules} table rules "
            f"(got {len(counts)} counts)"
        )
    return counts


class _PhoneticReplacement(_FavorRareTable):
    name = "with_phonetic_replacement_table"

    def __init__(
        self,
        rules: list[tuple[str, str, str]],
        rule_frequencies: Optional[Sequence[int]] = None,
    ):
        if not rules:
            raise ValueError("must provide at least one phonetic replacement rule")
        self.rules = rules
        self.rule_frequencies = _aligned_frequencies(rule_frequencies, len(rules))

    def _rule_matches(self, values):
        # flags ^/$ anchor the pattern; a middle rule must sit inside
        # value[1:-1] (gecko/mutator.py:411-424); a null matches nothing
        out = np.zeros((len(self.rules), len(values)), dtype=bool)
        for r, (pattern, _, flag) in enumerate(self.rules):
            if flag == "^":
                hit = [v is not None and v.startswith(pattern) for v in values]
            elif flag == "$":
                hit = [v is not None and v.endswith(pattern) for v in values]
            else:
                hit = [v is not None and pattern in v[1:-1] for v in values]
            out[r] = hit
        return out

    def _eligible(self, col, rand):
        # JVM-side replica of _rule_matches: literal string predicates
        middle = col.substr(F.lit(2), F.greatest(F.length(col) - F.lit(2), F.lit(0)))
        conds = None
        for pattern, _, flag in self.rules:
            if flag == "^":
                c = col.startswith(pattern)
            elif flag == "$":
                c = col.endswith(pattern)
            else:
                c = middle.contains(pattern)
            conds = c if conds is None else (conds | c)
        return conds

    def _rewrite(self, values, rule):
        pattern, replacement, flag = rule
        if flag == "^":
            regex, repl = f"^{re.escape(pattern)}", replacement
        elif flag == "$":
            regex, repl = f"{re.escape(pattern)}$", replacement
        else:
            regex, repl = f"^(.+)(?:{re.escape(pattern)})(.+)$", rf"\g<1>{replacement}\g<2>"
        rewritten = pd.Series(values).str.replace(regex, repl, n=1, regex=True)
        return rewritten.to_numpy(dtype=object)


def with_phonetic_replacement_table(
    data_source: TableSource,
    source_column: Union[str, int] = 0,
    target_column: Union[str, int] = 1,
    flags_column: Union[str, int] = 2,
    encoding: str = "utf-8",
    delimiter: str = ",",
    rule_frequencies: Optional[Sequence[int]] = None,
) -> Mutator:
    """Phonetic errors from a (source, target, flags) table; flags ^/_/$
    restrict match position (gecko/mutator.py:314-507). One Arrow kernel
    reproduces the descending-frequency inverse-option rule assignment,
    in the global rule order from the distinct-value count job (one per
    ``mutate_data_frame``, shared by all its table steps).
    ``rule_frequencies`` (per-rule match counts aligned with the table
    rows, typically from ``measure_rule_frequencies`` over historical
    data) supplies that order up front — no count job, and STREAMS get
    batch-identical global ordering."""
    rules = load_phonetic_table(
        data_source, source_column, target_column, flags_column,
        delimiter=delimiter, encoding=encoding,
    )
    return _PhoneticReplacement(rules, rule_frequencies)


def _apply_regex_rule(value: str, pattern: re.Pattern, subs: dict[str, str]) -> str:
    """Splice group substitutions at their spans, preserving non-group
    text; substitution text may cross-reference other groups via
    ``(?P<name>)`` markers (gecko/mutator.py:1392-1429)."""
    m = pattern.search(value)
    if m is None:
        return value
    group_order: list[tuple[int, int, str]] = []
    named = {v: k for k, v in (pattern.groupindex or {}).items()}
    for gi in range(1, (pattern.groups or 0) + 1):
        label = named.get(gi, str(gi))
        if label in subs and m.group(gi) is not None:
            group_order.append((m.start(gi), m.end(gi), label))
    group_order.sort()

    def _xref(xm: re.Match) -> str:
        try:
            return m.group(xm.group(1)) or ""
        except (IndexError, re.error):
            return ""

    out, cursor = [], m.start()
    for start, end, label in group_order:
        out.append(value[cursor:start])
        out.append(re.sub(r"\(\?P<([A-Za-z_][A-Za-z0-9_]*)>\)", _xref, subs[label]))
        cursor = end
    out.append(value[cursor : m.end()])
    return value[: m.start()] + "".join(out) + value[m.end() :]


class _RegexReplacement(_FavorRareTable):
    name = "with_regex_replacement_table"

    def __init__(
        self,
        rules: list[tuple[re.Pattern, dict[str, str]]],
        rule_frequencies: Optional[Sequence[int]] = None,
    ):
        if not rules:
            raise ValueError("must provide at least one regex replacement rule")
        self.rules = rules
        self.rule_frequencies = _aligned_frequencies(rule_frequencies, len(rules))

    def _rule_matches(self, values):
        # Python regex semantics (Java's differ); a null is searched as
        # "", like the kernel's fillna("")
        texts = ["" if v is None else v for v in values]
        out = np.zeros((len(self.rules), len(texts)), dtype=bool)
        for r, (pattern, _) in enumerate(self.rules):
            out[r] = [pattern.search(v) is not None for v in texts]
        return out

    def _rewrite(self, values, rule):
        pattern, subs = rule
        return np.array([_apply_regex_rule(v, pattern, subs) for v in values], dtype=object)


def with_regex_replacement_table(
    data_source: TableSource,
    pattern_column: str = "pattern",
    flags_column: Optional[str] = None,
    encoding: str = "utf-8",
    delimiter: str = ",",
    rule_frequencies: Optional[Sequence[int]] = None,
) -> Mutator:
    """Regex substitutions from a table: pattern column + one column per
    capture group supplying replacement text, with cross-group
    references (gecko/mutator.py:1444-1590). Spark's regexp_replace
    cannot express table-driven group splicing, so this ships the
    replacement logic in one Arrow kernel, in the global rule order from
    the distinct-value count job (one per ``mutate_data_frame``, shared
    by all its table steps). ``rule_frequencies`` (per-rule match counts
    aligned with table rows, from ``measure_rule_frequencies`` over
    historical data) skips the count job and gives STREAMS the
    dataset-global rule order."""
    rules = load_regex_table(
        data_source, pattern_column, flags_column, delimiter=delimiter, encoding=encoding
    )
    return _RegexReplacement(rules, rule_frequencies)
