"""The two workloads: what one operation does, how its output is
checked, and the decomposed per-layer timings of a traced run.

One operation ("op") is one full user action: build the plan(s), then
run the action(s) that produce the output. Every public call into the
program is wrapped in a span named after its module.
"""

from __future__ import annotations

import math
import re
import shutil
import time
from pathlib import Path

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gecko_spark.core import HashRandom
from gecko_spark.operators import generators as G
from gecko_spark.operators import mutators as M
from gecko_spark.plans.pipeline import mutate_data_frame, to_data_frame
from gecko_spark.sources.sinks import write_partitioned

from perfbench import fixtures
from perfbench.probes import dir_usage
from perfbench.tracing import Tracer

ORIG = "orig__"  # prefix of the untouched copies a check carries along
SIGMAS = 6.0  # tolerance of every statistical check, in standard deviations
GROUP_SPLIT = 0.85  # share of house numbers below 100 (exact-count from_group)
_DIGEST_MOD = 1_000_000_007

GENERATOR_LABELS = [
    "from_multicolumn_frequency_table",
    "from_frequency_table_large",
    "from_frequency_table",
    "from_group",
    "from_datetime_range",
    "from_normal_distribution",
    "from_uniform_distribution",
]  # every label that Workload.person_spec uses
TABLE_MUTATOR_LABELS = [
    "with_cldr_keymap_file",
    "with_phonetic_replacement_table",
    "with_replacement_table",
    "with_regex_replacement_table",
]


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def binomial_error(label: str, hits: int, trials: int, p: float) -> list[str]:
    """An error when ``hits`` is further than SIGMAS standard deviations
    (plus one, for rounding) from ``p * trials``."""
    bound = SIGMAS * math.sqrt(trials * p * (1.0 - p)) + 1.0
    if abs(hits - p * trials) > bound:
        return [f"{label}: {hits} of {trials}, expected {p * trials:.1f} +- {bound:.1f}"]
    return []


def digest_aggs(tag: str, cols: list[Column]) -> list[Column]:
    """An order-independent checksum of the rows formed by ``cols``."""
    h = F.xxhash64(*[F.coalesce(c.cast("string"), F.lit("")) for c in cols])
    return [
        F.sum(F.pmod(h, F.lit(_DIGEST_MOD))).alias(f"{tag}_sum"),
        F.bit_xor(h).alias(f"{tag}_xor"),
    ]


def digest(row, tag: str) -> tuple:
    return (row[f"{tag}_sum"], row[f"{tag}_xor"])


def _top_weights(table: pd.DataFrame, keys: list[str], top: int = 10):
    w = table["freq"].astype("int64")
    shares = (w / w.sum()).to_numpy()
    order = sorted(range(len(table)), key=lambda i: -shares[i])[:top]
    return [(tuple(table.iloc[i][k] for k in keys), float(shares[i])) for i in order]


class Workload:
    """Shared set-up, op bookkeeping and checks."""

    name = ""
    rows = 0  # rows each op generates or reads
    outputs = 1  # datasets each op produces; rows_per_s counts rows * outputs
    writes_files = False  # the check compares the op's files with its plan
    full_persons = True  # every generator; else the reference example's columns

    def __init__(self, spark, fx: fixtures.Fixtures, work: Path, tracer: Tracer, seed: int):
        self.spark = spark
        self.seed = seed
        self.fx = fx
        self.work = work
        self.tracer = tracer

    # -- set-up ------------------------------------------------------------
    def factory(self, layer: str, fn, *args, **kwargs):
        with self.tracer.span(f"{layer}.factory"):
            return fn(*args, **kwargs)

    def person_spec(self) -> list[tuple[str, tuple]]:
        """``(generator label, spec entry)`` pairs. The reference example's
        persons: a gender/given-name table, the 200 most common last
        names (both on the JVM path), birth date, weight and height.
        With ``full_persons``, every last name (the Arrow path), a street
        (416-value table) and an exact-count house-number group join."""
        g = lambda fn, *a, **kw: self.factory("generators", fn, *a, **kw)  # noqa: E731
        fx = self.fx
        given = g(G.from_multicolumn_frequency_table, fx.given, ["gender", "given"], "freq")
        spec = [("from_multicolumn_frequency_table", (("gender", "given_name"), given))]
        if self.full_persons:
            house = g(
                G.from_group,
                [
                    (GROUP_SPLIT, g(G.from_uniform_distribution, 1, 99, precision=0)),
                    (1 - GROUP_SPLIT, g(G.from_uniform_distribution, 100, 1000, precision=0)),
                ],
                mode="exact",
            )
            last = g(G.from_frequency_table, fx.last, "last", "freq")
            street = g(G.from_frequency_table, fx.streets, "street", "freq")
            spec += [
                ("from_frequency_table_large", ("last_name", last)),
                ("from_frequency_table", ("street", street)),
                ("from_group", ("house_no", house)),
            ]
        else:
            last = g(G.from_frequency_table, fx.last_top, "last", "freq")
            spec.append(("from_frequency_table", ("last_name", last)))
        # 30 birth years: the export writes one file per year and dataset
        birth = g(G.from_datetime_range, "1970-01-01", "1999-12-31", "%Y-%m-%d", "d")
        weight = g(G.from_normal_distribution, 75.0, 12.0, precision=1)
        height = g(G.from_uniform_distribution, 150.0, 200.0, precision=0)
        return spec + [
            ("from_datetime_range", ("birth_date", birth)),
            ("from_normal_distribution", ("weight_kg", weight)),
            ("from_uniform_distribution", ("height_cm", height)),
        ]

    def build(self) -> None:
        """Construct factories and write fixtures (set-up)."""
        raise NotImplementedError

    # -- ops ---------------------------------------------------------------
    def op(self, label: str, seed: int) -> dict:
        """Run one op; return what it wrote (``files``, ``bytes``)."""
        raise NotImplementedError

    def discard(self, label: str) -> None:
        """Remove what op ``label`` left on disk."""

    def noop(self, df: DataFrame) -> None:
        with self.tracer.span("actions.noop_write"):
            noop_write(df)

    def generate(self, spec, seed: int) -> DataFrame:
        with self.tracer.span("pipeline.to_data_frame"):
            return to_data_frame(self.spark, spec, self.rows, seed=seed, keep_index=True)

    def mutate(self, df: DataFrame, spec, seed: int, group: str) -> DataFrame:
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{group}.mutate", "mutate_data_frame", False)
        try:
            with self.tracer.span("pipeline.mutate_data_frame"):
                return mutate_data_frame(df, spec, seed=seed, key_columns=["__idx__"])
        finally:
            sc.setJobGroup(group, self.name, False)

    # -- checks ------------------------------------------------------------
    def check(self, label: str, seed: int) -> tuple[list[str], tuple]:
        """Recompute op ``label``'s output off the timer; return the
        failed checks and the checksum of its clean and dirty frames."""
        raise NotImplementedError

    def share_checks(self, row, n: int) -> list[str]:
        errors = []
        for i, (keys, values, w) in enumerate(self._shares()):
            errors += binomial_error(f"share {keys}={values}", int(row[f"share{i}"]), n, w)
        return errors

    def share_aggs(self, col) -> list[Column]:
        aggs = []
        for i, (keys, values, _w) in enumerate(self._shares()):
            cond = F.lit(True)
            for k, v in zip(keys, values):
                cond = cond & (col(k) == F.lit(v))
            aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(f"share{i}"))
        return aggs

    def _shares(self):
        tables = [(self.fx.given, ["gender", "given"], ["gender", "given_name"])]
        if self.full_persons:
            tables += [(self.fx.last, ["last"], ["last_name"]), (self.fx.streets, ["street"], ["street"])]
        else:
            tables.append((self.fx.last_top, ["last"], ["last_name"]))
        out = []
        for table, keys, cols in tables:
            out += [(tuple(cols), v, w) for v, w in _top_weights(table, keys)]
        return out

    def generator_checks(self, col, n: int) -> tuple[list[Column], callable]:
        """Aggregates and checks for the generated columns that are not
        frequency tables: exact group counts, date range, value ranges
        and the normal mean."""
        aggs = [
            F.min(col("birth_date")).alias("bd_min"),
            F.max(col("birth_date")).alias("bd_max"),
            F.avg(col("weight_kg").cast("double")).alias("w_mean"),
            F.min(col("height_cm").cast("double")).alias("h_min"),
            F.max(col("height_cm").cast("double")).alias("h_max"),
        ]
        if self.full_persons:
            house = col("house_no").cast("int")
            aggs.append(F.sum(F.when(house < 100, 1).otherwise(0)).alias("group0"))

        def verify(row) -> list[str]:
            errors = []
            if self.full_persons and row["group0"] != round(n * GROUP_SPLIT):
                errors.append(f"from_group exact count {row['group0']} != {round(n * GROUP_SPLIT)}")
            if not ("1970-01-01" <= row["bd_min"] <= row["bd_max"] <= "1999-12-31"):
                errors.append(f"birth_date outside range: {row['bd_min']}..{row['bd_max']}")
            if abs(row["w_mean"] - 75.0) > SIGMAS * 12.0 / math.sqrt(n):
                errors.append(f"weight mean {row['w_mean']:.3f} far from 75")
            if not (150.0 <= row["h_min"] <= row["h_max"] <= 200.0):
                errors.append(f"height outside [150, 200]: {row['h_min']}..{row['h_max']}")
            return errors

        return aggs, verify

    def mutation_aggs(self, targets, untouched: list[str]) -> list[Column]:
        """Per mutated column: eligible rows, changed eligible rows and
        changed ineligible rows; per other column: changed rows."""
        aggs = []
        for c, _p, eligible in targets:
            changed = ~F.col(c).eqNullSafe(F.col(ORIG + c))
            e = F.coalesce(eligible(F.col(ORIG + c)), F.lit(False))
            aggs += [
                F.sum(F.when(e, 1).otherwise(0)).alias(f"elig_{c}"),
                F.sum(F.when(e & changed, 1).otherwise(0)).alias(f"chg_{c}"),
                F.sum(F.when(~e & changed, 1).otherwise(0)).alias(f"stray_{c}"),
            ]
        for c in untouched:
            changed = ~F.col(c).eqNullSafe(F.col(ORIG + c))
            aggs.append(F.sum(F.when(changed, 1).otherwise(0)).alias(f"stray_{c}"))
        return aggs

    @staticmethod
    def mutation_checks(row, targets, untouched: list[str]) -> list[str]:
        errors = []
        for c, p, _e in targets:
            errors += binomial_error(f"changed {c}", row[f"chg_{c}"], row[f"elig_{c}"], p)
        for c in [t[0] for t in targets] + untouched:
            if row[f"stray_{c}"]:
                errors.append(f"{row[f'stray_{c}']} rows of {c} changed that may not change")
        return errors

    # -- decomposed run ------------------------------------------------------
    def timed(self, name: str, fn) -> float:
        """Wall time of one run of ``fn``, in a span called ``name``."""
        t = time.perf_counter()
        with self.tracer.span(name):
            fn()
        return time.perf_counter() - t

    def decompose(self) -> dict[str, float]:
        raise NotImplementedError

    def decompose_generators(self, labeled) -> dict[str, float]:
        """The workload's generation spec, then each generator alone, at
        the workload's size."""
        spec = [entry for _label, entry in labeled]
        out = {
            "generators.exec_s": self.timed(
                "generators.exec", lambda: noop_write(self.generate(spec, 1))
            )
        }
        for label, entry in labeled:
            out[f"generators.{label}.exec_s"] = self.timed(
                f"generators.{label}.exec",
                lambda entry=entry: noop_write(self.generate([entry], 1)),
            )
        return out


def _with_originals(df: DataFrame) -> DataFrame:
    return df.select(*df.columns, *[F.col(c).alias(ORIG + c) for c in df.columns])


def _orig(name: str) -> Column:
    return F.col(ORIG + name)


class CorruptTables(Workload):
    name = "corrupt_tables"
    rows = 50_000

    def build(self) -> None:
        self.keymap = fixtures.write_cldr(self.fx, self.work)
        m = lambda fn, *a, **kw: self.factory("mutators", fn, *a, **kw)  # noqa: E731
        self.targets = [
            ("given_name", 0.05, m(M.with_cldr_keymap_file, str(self.keymap))),
            (
                "last_name",
                0.1,
                m(M.with_phonetic_replacement_table, self.fx.phonetic, "source", "target", "flags"),
            ),
            (
                "street",
                0.1,
                m(M.with_replacement_table, self.fx.ocr, "source", "target", inline=True),
            ),
            ("house_no", 0.05, m(M.with_regex_replacement_table, self.fx.regex, "pattern")),
        ]
        self.spec = [(c, (p, mut)) for c, p, mut in self.targets]
        self.input = self.work / "persons.parquet"
        self.input_spec = self.person_spec()
        with self.tracer.span("setup.write_input"):
            people = to_data_frame(
                self.spark,
                [entry for _label, entry in self.input_spec],
                self.rows,
                seed=self.seed,
                keep_index=True,
            )
            people.write.mode("overwrite").parquet(str(self.input))

    def read(self) -> DataFrame:
        with self.tracer.span("sources.read_parquet"):
            return self.spark.read.parquet(str(self.input))

    def op(self, label: str, seed: int) -> dict:
        self.noop(self.mutate(self.read(), self.spec, seed, label))
        return {"files": 0, "bytes": 0}

    def eligibility(self):
        """Which original values each mutator may change."""
        chars = "".join(re.escape(ch) for ch in sorted(self.fx.keymap_chars))

        def phonetic(o):
            cond = F.lit(False)
            middle = o.substr(F.lit(2), F.greatest(F.length(o) - F.lit(2), F.lit(0)))
            for src, _tgt, flags in fixtures.PHONETIC_RULES:
                for flag in flags or "^_$":
                    cond = cond | {
                        "^": o.startswith(src),
                        "$": o.endswith(src),
                        "_": middle.contains(src),
                    }[flag]
            return cond

        def any_of(preds):
            def f(o):
                cond = F.lit(False)
                for pred in preds:
                    cond = cond | pred(o)
                return cond

            return f

        java_patterns = [p.replace("(?P<", "(?<") for p in self.fx.regex["pattern"]]
        return {
            "given_name": lambda o: o.rlike(f"[{chars}]"),
            "last_name": phonetic,
            "street": any_of([lambda o, s=s: o.contains(s) for s in self.fx.ocr["source"]]),
            "house_no": any_of([lambda o, p=p: o.rlike(p) for p in java_patterns]),
        }

    def check(self, label: str, seed: int):
        base = self.spark.read.parquet(str(self.input))
        cols = base.columns
        dirty = mutate_data_frame(
            _with_originals(base), self.spec, seed=seed, key_columns=["__idx__"]
        )
        elig = self.eligibility()
        targets = [(c, p, elig[c]) for c, p, _m in self.targets]
        untouched = [c for c in cols if c not in elig]
        row = dirty.agg(
            F.count(F.lit(1)).alias("n"),
            *digest_aggs("clean", [_orig(c) for c in cols]),
            *digest_aggs("dirty", [F.col(c) for c in cols]),
            *self.mutation_aggs(targets, untouched),
        ).first()
        errors = [] if row["n"] == self.rows else [f"row count {row['n']} != {self.rows}"]
        errors += self.mutation_checks(row, targets, untouched)
        return errors, digest(row, "clean") + digest(row, "dirty")

    def decompose(self) -> dict[str, float]:
        """The input's generators, then the mutators over a cached input."""
        out = self.decompose_generators(self.input_spec)
        cached = self.spark.read.parquet(str(self.input)).cache()
        try:
            cached.count()
            scan = self.timed("mutators.input_scan", lambda: noop_write(cached))
            out |= {
                "mutators.exec_s": self.timed(
                    "mutators.exec",
                    lambda: noop_write(
                        mutate_data_frame(cached, self.spec, seed=1, key_columns=["__idx__"])
                    ),
                )
                - scan
            }
            for step, (label, (c, p, mut)) in enumerate(zip(TABLE_MUTATOR_LABELS, self.targets)):

                def run(c=c, p=p, mut=mut, step=step, label=label):
                    rand = HashRandom(1, [F.col("__idx__")]).fork(step)
                    with self.tracer.span(f"mutators.{label}.apply"):
                        df = mut.apply(cached, [c], p, rand=rand)
                    noop_write(df)

                out[f"mutators.{label}.exec_s"] = self.timed(f"mutators.{label}.exec", run) - scan
            return out
        finally:
            cached.unpersist()


class LinkageExport(Workload):
    """The reference's canonical workflow: generate persons, corrupt a
    copy with pure-Column mutators, export both as CSV partitioned by
    birth year (the linkage blocking key)."""

    name = "linkage_export"
    rows = 50_000
    outputs = 2
    writes_files = True
    full_persons = False

    def build(self) -> None:
        self.labeled_spec = self.person_spec()
        self.spec = [entry for _label, entry in self.labeled_spec]
        m = lambda fn, *a, **kw: self.factory("mutators", fn, *a, **kw)  # noqa: E731
        fx = self.fx
        self.targets = [
            ("given_name", 0.05, m(M.with_delete), lambda o: F.length(o) >= 1),
            ("last_name", 0.05, m(M.with_insert), lambda o: o.isNotNull()),
            ("gender", 0.05, m(M.with_categorical_values, fx.given, "gender"), lambda o: o.isin("f", "m")),
            (
                "birth_date",
                0.05,
                m(M.with_datetime_offset, 10, "d", "%Y-%m-%d"),
                lambda o: F.try_to_timestamp(o, F.lit("yyyy-MM-dd")).isNotNull(),
            ),
            ("weight_kg", 0.03, m(M.with_missing_value, ""), lambda o: o != F.lit("")),
        ]
        self.spec_mut = [(c, (p, mut)) for c, p, mut, _e in self.targets]
        self.export = self.work / "export"

    @staticmethod
    def with_year(df: DataFrame, date_col: Column) -> DataFrame:
        return df.withColumn("birth_year", F.substring(date_col, 1, 4))

    def op(self, label: str, seed: int) -> dict:
        clean = self.generate(self.spec, seed)
        dirty = self.mutate(clean, self.spec_mut, seed, label)
        out = self.export / label
        for name, df in (("clean", clean), ("dirty", dirty)):
            with self.tracer.span("sinks.write_partitioned"):
                write_partitioned(
                    self.with_year(df, F.col("birth_date")), str(out / name), ["birth_year"], fmt="csv"
                )
        files = size = 0
        for name in ("clean", "dirty"):
            f, b = dir_usage(out / name)
            files, size = files + f, size + b
        return {"files": files, "bytes": size}

    def discard(self, label: str) -> None:
        shutil.rmtree(self.export / label, ignore_errors=True)

    def check(self, label: str, seed: int):
        clean = to_data_frame(self.spark, self.spec, self.rows, seed=seed, keep_index=True)
        cols = clean.columns
        dirty = mutate_data_frame(
            _with_originals(clean), self.spec_mut, seed=seed, key_columns=["__idx__"]
        )
        targets = [(c, p, e) for c, p, _m, e in self.targets]
        untouched = [c for c in cols if c not in {t[0] for t in targets}]
        year = lambda c: F.substring(c, 1, 4)  # noqa: E731
        gen_aggs, verify = self.generator_checks(_orig, self.rows)
        row = dirty.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(year(_orig("birth_date"))).alias("years_clean"),
            F.countDistinct(year(F.col("birth_date"))).alias("years_dirty"),
            *digest_aggs("clean", [_orig(c) for c in cols] + [year(_orig("birth_date"))]),
            *digest_aggs("dirty", [F.col(c) for c in cols] + [year(F.col("birth_date"))]),
            *self.share_aggs(_orig),
            *gen_aggs,
            *self.mutation_aggs(targets, untouched),
        ).first()
        errors = [] if row["n"] == self.rows else [f"row count {row['n']} != {self.rows}"]
        errors += self.share_checks(row, self.rows) + verify(row)
        errors += self.mutation_checks(row, targets, untouched)

        # the files on disk must hold exactly the frames that were planned
        schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])
        out = self.export / label
        for name in ("clean", "dirty"):
            back = self.spark.read.schema(schema).csv(str(out / name))
            got = back.agg(
                F.count(F.lit(1)).alias("n"),
                *digest_aggs(name, [F.col(c) for c in cols] + [F.col("birth_year")]),
            ).first()
            if got["n"] != self.rows:
                errors.append(f"{name} export holds {got['n']} rows, not {self.rows}")
            if digest(got, name) != digest(row, name):
                errors.append(f"{name} export differs from its plan")
            files, _bytes = dir_usage(out / name)
            dirs = len(list((out / name).glob("birth_year=*")))
            if not (files == dirs == row[f"years_{name}"]):
                errors.append(
                    f"{name} export: {files} files in {dirs} partitions for "
                    f"{row[f'years_{name}']} birth years"
                )
        return errors, digest(row, "clean") + digest(row, "dirty")

    def decompose(self) -> dict[str, float]:
        """The generators, then the mutator chain over a cached input."""
        out = self.decompose_generators(self.labeled_spec)
        cached = self.generate(self.spec, 1).cache()
        try:
            cached.count()
            scan = self.timed("mutators.input_scan", lambda: noop_write(cached))
            out["mutators.jvm_chain.exec_s"] = (
                self.timed(
                    "mutators.jvm_chain.exec",
                    lambda: noop_write(
                        mutate_data_frame(cached, self.spec_mut, seed=1, key_columns=["__idx__"])
                    ),
                )
                - scan
            )
            return out
        finally:
            cached.unpersist()


WORKLOADS = {w.name: w for w in (CorruptTables, LinkageExport)}
