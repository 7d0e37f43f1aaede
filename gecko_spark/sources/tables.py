"""Loaders for the engine's small config tables.

Semantics mirrored from the reference (SURVEY.md §2.1/§2.2):

* header presence is inferred from the column-spec type — string names
  imply a header row, integer indices imply none (reference
  gecko/generator.py:150-155);
* empty strings must survive as empty strings, never NaN (reference
  gecko/generator.py:158, tests/test_generator.py:218-231);
* value columns are read as strings, frequency columns as integers
  (reference gecko/generator.py:157).

Sources may be a CSV path, a pandas DataFrame, or a Spark DataFrame
(collected — config tables are small by construction). One reader,
:func:`_read_table`, turns each into the same all-string frame, so a
missing cell reads as "" whatever the source.
"""

from __future__ import annotations

import re
from pathlib import Path
from typing import Sequence, Union

import numpy as np
import pandas as pd

try:  # avoid importing pyspark lazily-typed symbols at module import in workers
    from pyspark.sql import DataFrame as SparkDataFrame
except Exception:  # pragma: no cover
    SparkDataFrame = None  # type: ignore[assignment]

TableSource = Union[str, Path, pd.DataFrame, "SparkDataFrame"]


def _check_specs(specs: Sequence[Union[str, int]]) -> bool:
    """Return True if specs are header names (str), False if positions (int)."""
    if all(isinstance(s, str) for s in specs):
        return True
    if all(isinstance(s, int) for s in specs):
        return False
    raise ValueError(
        "column specs must be either all strings (header names) or all ints (positions)"
    )


def _read_table(
    source: TableSource, has_header: bool, delimiter: str, encoding: str
) -> pd.DataFrame:
    """The table behind ``source`` with every cell a string and every
    missing cell (``None``, ``NaN``, Spark null, an empty CSV field)
    an empty string. ``has_header`` and the CSV options apply to a
    CSV path only."""
    if isinstance(source, (str, Path)):
        df = pd.read_csv(
            source,
            header=0 if has_header else None,
            sep=delimiter,
            encoding=encoding,
            dtype=str,
            keep_default_na=False,
        )
    elif isinstance(source, pd.DataFrame):
        df = source
    elif SparkDataFrame is not None and isinstance(source, SparkDataFrame):
        df = source.toPandas()
    else:
        raise ValueError(f"unsupported config-table source type: {type(source)}")
    # mask after astype: astype(str) stringifies missing values to the
    # literal tokens 'nan'/'None'; masking (unlike fillna("")) also works
    # on categorical columns
    return df.astype(str).mask(df.isna(), "")


def load_config_table(
    source: TableSource,
    column_specs: Sequence[Union[str, int]],
    delimiter: str = ",",
    encoding: str = "utf-8",
) -> pd.DataFrame:
    """Load a config table and return only the requested columns.

    Returns a pandas DataFrame whose columns are in ``column_specs``
    order with their resolved labels replaced by the original specs
    (stringified positions for positional specs).
    """
    df = _read_table(source, _check_specs(column_specs), delimiter, encoding)
    out = {}
    for spec in column_specs:
        if isinstance(spec, int):
            if spec >= df.shape[1]:
                raise ValueError(
                    f"column index {spec} out of range for table with {df.shape[1]} columns"
                )
            col = df.iloc[:, spec]
        else:
            if spec not in df.columns:
                raise ValueError(
                    f"column `{spec}` not found, must be one of `{','.join(map(str, df.columns))}`"
                )
            col = df[spec]
        out[str(spec)] = col
    return pd.DataFrame(out).reset_index(drop=True)


def load_frequency_table(
    source: TableSource,
    value_columns: Union[str, int, Sequence[Union[str, int]]] = 0,
    freq_column: Union[str, int] = 1,
    delimiter: str = ",",
    encoding: str = "utf-8",
) -> tuple[pd.DataFrame, np.ndarray]:
    """Load a (multi-)column frequency table.

    Returns ``(values, freqs)`` where ``values`` holds the k value
    columns (strings) and ``freqs`` is the int64 absolute-frequency
    array — samplers build their integer cumulative array from it
    (exact inverse-CDF, no float drift).

    Reference parity: gecko/generator.py:110-170 (single column) and
    :173-254 (joint multi-column — rows are sampled as whole tuples so
    inter-column dependence is preserved); frequencies are integers as
    in the reference (gecko/generator.py:157).
    """
    if isinstance(value_columns, (str, int)):
        value_columns = [value_columns]
    value_columns = list(value_columns)
    specs = value_columns + [freq_column]
    _check_specs(specs)

    df = load_config_table(source, specs, delimiter=delimiter, encoding=encoding)
    if df.empty:
        raise ValueError("frequency table is empty")

    freqs = pd.to_numeric(df.iloc[:, -1], errors="raise").to_numpy(dtype=np.int64)
    if (freqs < 0).any():
        raise ValueError("frequencies must be non-negative")
    if freqs.sum() <= 0:
        raise ValueError("frequencies must sum to a positive value")

    values = df.iloc[:, :-1].copy()
    values.columns = [str(c) for c in value_columns]
    return values, freqs


def load_replacement_table(
    source: TableSource,
    source_column: Union[str, int] = 0,
    target_column: Union[str, int] = 1,
    reverse: bool = False,
    delimiter: str = ",",
    encoding: str = "utf-8",
) -> pd.DataFrame:
    """Load a source→target replacement table (possibly one-to-many).

    ``reverse=True`` unions the flipped table (reference
    gecko/mutator.py:571-584). Returns columns ``source, target``.
    """
    df = load_config_table(
        source, [source_column, target_column], delimiter=delimiter, encoding=encoding
    )
    df.columns = ["source", "target"]
    if reverse:
        flipped = df.rename(columns={"source": "target", "target": "source"})
        df = pd.concat([df, flipped[["source", "target"]]], ignore_index=True)
        df = df.drop_duplicates(ignore_index=True)
    return df


_PHONETIC_FLAGS = ("^", "_", "$")


def load_phonetic_table(
    source: TableSource,
    source_column: Union[str, int] = 0,
    target_column: Union[str, int] = 1,
    flags_column: Union[str, int] = 2,
    delimiter: str = ",",
    encoding: str = "utf-8",
) -> list[tuple[str, str, str]]:
    """Load a phonetic replacement table into (pattern, replacement, flag)
    rules, one rule per (row, flag) pair.

    Flags restrict where the pattern may match: ``^`` start, ``_``
    middle, ``$`` end; an empty flag field expands to all three
    (reference gecko/mutator.py:309-311, :351-360, :392-400).
    """
    df = load_config_table(
        source,
        [source_column, target_column, flags_column],
        delimiter=delimiter,
        encoding=encoding,
    )
    rules: list[tuple[str, str, str]] = []
    for _, row in df.iterrows():
        pattern, replacement, flags = row.iloc[0], row.iloc[1], row.iloc[2]
        flags = flags.strip() or "".join(_PHONETIC_FLAGS)
        for flag in flags:
            if flag not in _PHONETIC_FLAGS:
                raise ValueError(f"unknown phonetic flag `{flag}`, must be one of ^, _, $")
            rules.append((pattern, replacement, flag))
    return rules


def load_regex_table(
    source: TableSource,
    pattern_column: str = "pattern",
    flags_column: str | None = None,
    delimiter: str = ",",
    encoding: str = "utf-8",
) -> list[tuple["re.Pattern", dict[str, str]]]:
    """Load a regex replacement table: a pattern column plus one column
    per capture group (numbered ``1..k`` or named) holding substitution
    text; substitutions may cross-reference other groups via
    ``(?P<name>)`` markers (reference gecko/mutator.py:1444-1509).

    Returns ``[(compiled_pattern, {group_label: substitution}), ...]``.
    Flags column supports ``a`` (ASCII) and ``i`` (IGNORECASE)
    (reference gecko/mutator.py:1432-1441).
    """
    df = _read_table(source, True, delimiter, encoding)
    if pattern_column not in df.columns:
        raise ValueError(f"pattern column `{pattern_column}` not found")

    group_columns = [
        c for c in df.columns if c not in (pattern_column, flags_column)
    ]

    rules = []
    for _, row in df.iterrows():
        flags = 0
        if flags_column is not None:
            for f in row[flags_column].strip():
                if f == "a":
                    flags |= re.ASCII
                elif f == "i":
                    flags |= re.IGNORECASE
                elif f:
                    raise ValueError(f"unsupported regex flag `{f}`")
        pattern = re.compile(row[pattern_column], flags)
        subs = {}
        for gc in group_columns:
            sub = row[gc]
            if sub != "" or gc in (pattern.groupindex or {}):
                subs[str(gc)] = sub
        rules.append((pattern, subs))
    return rules
