"""Engine entry points: dataset generation and dataset corruption.

``to_data_frame`` mirrors gecko's ``generator.to_data_frame``
(gecko/generator.py:427-474): a spec of ``(name(s), generator)`` pairs
plus a row count. Here it assembles ONE projection over
``spark.range(count)`` — every generator contributes lazy column
expressions, so the whole dataset is a single narrow stage with no
joins, no shuffles, and nothing materialized until the caller acts.

``mutate_data_frame`` mirrors gecko's ``mutator.mutate_data_frame``
(gecko/mutator.py:1724-1793): a spec of ``(column(s), mutator-spec)``
entries applied sequentially. Each step is a ``DataFrame -> DataFrame``
fold; Catalyst collapses the chained when/otherwise projections, so an
entire corruption pipeline typically executes as one stage plus one
Arrow-UDF stage per phonetic or regex table.

The favor-rare table mutators (inline replacement, phonetic and regex
tables) order their rules by global match counts, the one eager part of
the chain. Before building it, ``mutate_data_frame`` counts every such
table — a step's own or one inside its ``with_group`` — whose column no
earlier step writes in ONE distinct-value job over the input
(``rule_counts``, described as ``gecko:mutate_data_frame:rule_frequencies``).
A step that reads a column an earlier step wrote counts the mutated
column in its own job, as the reference does; caller-supplied
``rule_frequencies`` need no job. A stream cannot be counted, so there a
table without ``rule_frequencies`` raises ``ValueError``. Only
``Mutator.apply``, ``measure_rule_frequencies`` and
``mutate_data_frame`` start count jobs: the mutators take the rule
order they are handed and never count while their kernels are built.
``strict_p=True`` adds one labelled ``avg(eligible)`` job per step
(``gecko:<mutator>:strict_p``).
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gecko_spark.core import HashRandom, RandomSource, check_probability
from gecko_spark.operators.generators import ColumnGenerator, GenContext
from gecko_spark.operators.mutators import Mutator, rule_counts

__all__ = ["to_data_frame", "mutate_data_frame", "IDX_COLUMN"]

IDX_COLUMN = "__idx__"

GeneratorSpec = Sequence[tuple[Union[str, tuple[str, ...]], ColumnGenerator]]


def to_data_frame(
    spark: SparkSession,
    spec: GeneratorSpec,
    count: int,
    seed: int = 0,
    rand_for: Optional[Callable[[int], RandomSource]] = None,
    keep_index: bool = False,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Assemble a DataFrame from named generators.

    Args:
        spark: session.
        spec: list of ``(column name(s), generator)`` pairs; tuple names
            bind multi-column generators positionally
            (gecko/generator.py:424, 450-471).
        count: number of rows.
        seed: master seed; each spec entry gets a decorrelated stream.
        rand_for: optional override — ``rand_for(entry_index)`` returns
            the RandomSource for that entry (used by the oracle harness
            to substitute LCG randomness).
        keep_index: keep the ``__idx__`` row-id column.
        num_partitions: partitions for the seed range (defaults to
            Spark's parallelism; set ≈ count/10M on large clusters).
    """
    if len(spec) == 0:
        raise ValueError("generator spec must not be empty")
    if count <= 0:
        raise ValueError(f"amount of rows must be positive, is {count}")

    if num_partitions:
        df = spark.range(0, count, 1, num_partitions)
    else:
        df = spark.range(0, count)
    df = df.withColumnRenamed("id", IDX_COLUMN)

    idx = F.col(IDX_COLUMN)
    ctx = GenContext(idx=idx, count=count)
    base = HashRandom(seed, [idx])

    exprs = [idx] if keep_index else []
    seen: set[str] = set()
    for entry_idx, (names, gen) in enumerate(spec):
        if isinstance(names, str):
            names = (names,)
        rand = rand_for(entry_idx) if rand_for is not None else base.fork(entry_idx)
        cols = gen.columns(rand, ctx)
        if len(cols) != len(names):
            raise ValueError(
                f"generator at index {entry_idx} returned {len(cols)} column(s), "
                f"but {len(names)} name(s) were supplied"
            )
        for name, col in zip(names, cols):
            if name in seen:
                raise ValueError(f"duplicate column name `{name}` in generator spec")
            seen.add(name)
            exprs.append(col.alias(name))

    return df.select(*exprs)


MutatorSpec = Sequence[
    tuple[
        Union[str, tuple[str, ...]],
        Union[Mutator, tuple[float, Mutator], list],
    ]
]


def _normalize_mutator_spec(mutator_spec) -> list[tuple[float, Mutator]]:
    """Normalize a spec entry to ``[(p, mutator), ...]`` — same coercion
    ladder as the reference (gecko/mutator.py:1744-1777): a bare mutator
    gets p=1.0; a bare list of mutators applies each with p=1.0."""
    if isinstance(mutator_spec, Mutator):
        return [(1.0, mutator_spec)]
    if (
        isinstance(mutator_spec, tuple)
        and len(mutator_spec) == 2
        and isinstance(mutator_spec[1], Mutator)
    ):
        return [mutator_spec]
    if isinstance(mutator_spec, list):
        if all(isinstance(m, Mutator) for m in mutator_spec):
            return [(1.0, m) for m in mutator_spec]
        if all(
            isinstance(m, tuple) and len(m) == 2 and isinstance(m[1], Mutator)
            for m in mutator_spec
        ):
            return list(mutator_spec)
    raise ValueError(f"invalid type `{type(mutator_spec)}` for mutator definition")


def mutate_data_frame(
    df_in: DataFrame,
    mutator_lst: MutatorSpec,
    seed: int = 0,
    key_columns: Optional[Sequence[str]] = None,
    rand_for: Optional[Callable[[int], RandomSource]] = None,
    strict_p: bool = False,
) -> DataFrame:
    """Apply a mutation spec to a DataFrame — lazily.

    Spec entries run sequentially in list order (order is part of the
    reference contract — gecko docs/release-notes.md:125); multiple
    mutators on one column chain on the already-mutated output.

    Args:
        df_in: input (never modified — DataFrames are immutable, the
            reference's deep-copy discipline is free here).
        mutator_lst: ``[(column(s), mutator | (p, mutator) | [...]), ...]``.
        seed: master seed; step ``i`` uses stream ``i``.
        key_columns: columns whose values identify a row for randomness
            derivation; defaults to every column of the frame at each
            step, so identical rows get identical draws and identical
            mutated values (as from ``Mutator.apply``). Supply a primary
            key for row-unique draws even when payload values collide.
        rand_for: optional override — ``rand_for(step_index)`` returns
            the RandomSource for that sequential (entry, mutator) step.
        strict_p: reproduce the reference's eligibility measurement,
            p-rescaling and GeckoWarning (one aggregation job per step).
    """
    steps = []  # (step index, columns, p, mutator), in application order
    for column_spec, mutator_spec in mutator_lst:
        if isinstance(column_spec, str):
            column_spec = (column_spec,)
        for c in column_spec:
            if c not in df_in.columns:
                raise ValueError(
                    f"column `{c}` does not exist, must be one of `{','.join(df_in.columns)}`"
                )
        for p, mut in _normalize_mutator_spec(mutator_spec):
            if p <= 0 or p > 1:
                raise ValueError("probability for mutator must be in range of (0, 1]")
            steps.append((len(steps), list(column_spec), p, mut))

    # (step, column) pairs whose column no earlier step writes: their
    # counts over df_in equal those over the chain so far, so all of
    # them come from one job
    fused, written = [], set()
    for step, columns, _, mut in steps:
        fused += [(step, c, mut) for c in columns if c not in written]
        written.update(columns)
    counts = _rule_counts(df_in, fused)

    df_out = df_in
    for step, columns, p, mut in steps:
        if rand_for is not None:
            rand = rand_for(step)
        else:
            keys = list(key_columns) if key_columns else list(df_out.columns)
            rand = HashRandom(seed, [F.col(k) for k in keys]).fork(step)
        # columns an earlier step wrote: the reference counts the
        # mutated column, so count it over the chain so far
        late = [(step, c, mut) for c in columns if (step, c) not in counts]
        counts |= _rule_counts(df_out, late)
        step_counts = [counts[(step, c)] for c in columns]
        df_out = mut._apply(df_out, columns, p, rand, strict_p, step_counts)
    return df_out


def _rule_counts(df: DataFrame, entries: list) -> dict:
    """``rule_counts`` over ``df`` for ``(step, column, mutator)``
    entries in one job, keyed by ``(step, column)``; no job when no
    entry applies a table that needs counting."""
    tables = rule_counts(df, [(c, mut) for _, c, mut in entries], "mutate_data_frame")
    return {(step, c): t for (step, c, _), t in zip(entries, tables)}
