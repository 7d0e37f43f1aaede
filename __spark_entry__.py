"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship generate→mutate pipeline on sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (generators G1–G8, mutators M1–M20, the relational surface,
and the beyond-reference training-data ops); ``oracle_sql()`` gives the
DuckDB-equivalent SQL for every deterministically-checkable query.

Randomized operators are oracle-checkable here because the engine's
``LcgRandom`` (gecko_spark/core.py) derives every draw from portable
integer SQL over a key column — the oracle evaluates the *same formula
text* in DuckDB, so Spark and DuckDB agree bit-for-bit on each uniform
draw, and therefore on every mutated/generated value.

Every query has an exact oracle. Randomized mutators replay the LCG
draw-for-draw; MinHash/SimHash/fingerprints/IVF use engine-portable
hashing and strict-fold float arithmetic (functions/portable_hash.py,
similarity.py) so their SQL oracles reproduce signatures, buckets, and
rankings bit-for-bit; the favor-rare table-driven mutators order rules
by global match frequency (one aggregation pre-pass), making their
output partitioning-independent and SQL-replayable.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gecko_spark.core import LcgRandom, lcg_uniform_sql
from gecko_spark.operators import generators as G
from gecko_spark.operators import mutators as M
from gecko_spark.operators.joins import asof_join, band_join
from gecko_spark.plans.pipeline import mutate_data_frame, to_data_frame
from gecko_spark.sources.testdata import load_table

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

ASCII_LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
TWO_PI = 2.0 * math.pi

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

FRUITS = pd.DataFrame(
    {"fruit": ["apple", "banana", "orange"], "count": ["100", "50", "80"]}
)
FRUIT_TYPES = pd.DataFrame(
    {
        "fruit": ["apple", "apple", "banana", "banana", "orange", "orange"],
        "type": ["braeburn", "elstar", "cavendish", "plantain", "clementine", "mandarin"],
        "count": ["30", "70", "40", "10", "55", "25"],
    }
)

GEN_N = 10_000



_FIXDIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests", "fixtures")
_MEDIA_IMAGES = os.path.join(_FIXDIR, "media_images.parquet")
_MEDIA_AUDIO = os.path.join(_FIXDIR, "media_audio.parquet")

def _u(key: str, seed: int, salt: int, stream: int = 1) -> str:
    """Uniform [0,1) SQL text — identical in Spark and DuckDB.

    stream defaults to 1 because ``Mutator.apply`` forks the caller's
    RandomSource once per column (fork(0) → stream 1) before drawing.
    """
    return lcg_uniform_sql(key, seed, salt, stream)


def _uint(key: str, seed: int, salt: int, n_sql: str, stream: int = 1) -> str:
    """floor(u * n) as BIGINT — RandomSource.uniform_int's formula."""
    return f"CAST(FLOOR({_u(key, seed, salt, stream)} * CAST({n_sql} AS DOUBLE)) AS BIGINT)"


def _charset_pick(key: str, seed: int, salt: int, stream: int = 1) -> str:
    """RandomSource.choice over the default ascii_letters charset."""
    idx = _uint(key, seed, salt, str(len(ASCII_LETTERS)), stream)
    return f"substr('{ASCII_LETTERS}', CAST({idx} AS INTEGER) + 1, 1)"


def _q(fn):
    """Wrap a (spark, sf_dir) callable; table loading via load_table."""
    return fn


# ---------------------------------------------------------------------------
# entry — flagship pipeline on sf0.001
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build frequency/config tables FROM the warehouse tables
    (config tables are the only driver-side data), generate a synthetic
    customer-like dataset, then corrupt it with a chained mutation spec
    — the reference's canonical workflow (reference README.md:24-33) as
    one lazy Spark plan."""
    sf = "/root/testdata/sf0.001"
    customer = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")

    seg_freq = (
        customer.groupBy("c_mktsegment").count().orderBy("c_mktsegment").toPandas()
    )
    nat_freq = (
        customer.join(nation, customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .count()
        .orderBy("n_name")
        .toPandas()
    )

    df = to_data_frame(
        spark,
        [
            ("segment", G.from_frequency_table(seg_freq, "c_mktsegment", "count")),
            ("nation", G.from_frequency_table(nat_freq, "n_name", "count")),
            ("balance", G.from_uniform_distribution(-999.99, 9999.99, precision=2)),
            ("score", G.from_normal_distribution(100.0, 15.0, precision=3)),
            ("signup", G.from_datetime_range("2020-01-01", "2023-12-31", "%Y-%m-%d", "d")),
        ],
        count=20_000,
        seed=42,
        keep_index=True,
    )
    return mutate_data_frame(
        df,
        [
            ("segment", (0.1, M.with_missing_value("N/A"))),
            ("nation", [(0.05, M.with_delete()), (0.05, M.with_uppercase())]),
            (("segment", "nation"), (0.02, M.with_permute())),
            ("signup", (0.1, M.with_datetime_offset(5, "d", "%Y-%m-%d"))),
        ],
        seed=7,
        key_columns=["__idx__"],
    )


# ---------------------------------------------------------------------------
# queries — relational surface
# ---------------------------------------------------------------------------


# Money sums run in exact scaled-integer cents: double summation order
# is nondeterministic under parallel partial aggregation (both across
# engines and across cluster layouts), so a float sum rounded to N
# decimals is not reproducible at a rounding boundary. price → cents
# (bigint), discount → basis points; products/sums stay exact in int64.
def _cents(c):
    return F.round(F.col(c) * 100).cast("long")


def _disc_price_1e4():
    return _cents("l_extendedprice") * F.round(
        (F.lit(1.0) - F.col("l_discount")) * 100
    ).cast("long")


def _q1(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1997-06-30").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            (F.sum(_cents("l_extendedprice")) / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(_disc_price_1e4()) / F.lit(10000.0)).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg(F.round(F.col("l_discount") * 100).cast("long")) / F.lit(100.0), 8).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_base_price,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 10000.0
         AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(CAST(round(l_discount * 100) AS BIGINT)) / 100.0, 8) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-06-30'
GROUP BY l_returnflag, l_linestatus
"""


def _q3(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    cutoff = F.lit("1996-06-30").cast("timestamp")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c.filter(F.col("c_mktsegment") == "BUILDING"), o.o_custkey == c.c_custkey)
        .filter((o.o_orderdate < cutoff) & (li.l_shipdate > cutoff))
        .groupBy("l_orderkey", "o_orderpriority")
        .agg((F.sum(_disc_price_1e4()) / F.lit(10000.0)).alias("revenue"))
    )


_Q3_SQL = """
SELECT l_orderkey, o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 10000.0
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1996-06-30'
  AND l_shipdate  > TIMESTAMP '1996-06-30'
GROUP BY l_orderkey, o_orderpriority
"""


def _q5(spark, sf):
    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    # dimension side is broadcast (region/nation are tiny by construction)
    dims = F.broadcast(
        n.join(r.filter(F.col("r_name") == "ASIA"), n.n_regionkey == r.r_regionkey)
    )
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey))
        .join(dims, c.c_nationkey == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg((F.sum(_disc_price_1e4()) / F.lit(10000.0)).alias("revenue"))
    )


_Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 10000.0
         AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def _q_topk(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


_Q_TOPK_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders
)
WHERE rnk <= 3
"""


def _q_events_hourly(spark, sf):
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            F.expr("unix_millis(ts) DIV 3600000").alias("hour_bucket"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 1000000).cast("long")) / F.lit(1e6)
            ).alias("sum_value"),
        )
    )


_Q_EVENTS_HOURLY_SQL = """
SELECT epoch_ms(ts) // 3600000 AS hour_bucket, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) / 1000000.0
         AS sum_value
FROM events
GROUP BY 1, 2
"""


def _q_events_sessions(spark, sf):
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_id", F.expr("unix_millis(ts)").alias("ms")
    )
    order = Window.partitionBy("user_id").orderBy("ms", "event_id")
    flagged = ev.withColumn(
        "new_sess",
        F.when(
            F.col("ms") - F.lag("ms").over(order) > F.lit(30 * 60 * 1000), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    running = Window.partitionBy("user_id").orderBy("ms", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        flagged.withColumn("session_id", F.sum("new_sess").over(running))
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ms").alias("start_ms"),
            F.max("ms").alias("end_ms"),
            F.count("*").alias("n_events"),
        )
    )


_Q_EVENTS_SESSIONS_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, epoch_ms(ts) AS ms,
         CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER
                (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)
              > 1800000 THEN 1 ELSE 0 END AS new_sess
  FROM events
),
sess AS (
  SELECT user_id, ms,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       min(ms) AS start_ms, max(ms) AS end_ms, count(*) AS n_events
FROM sess
GROUP BY user_id, session_id
"""


def _q_anti_join(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


_Q_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


def _q_rollup(spark, sf):
    r = load_table(spark, sf, "region")
    n = load_table(spark, sf, "nation")
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / F.lit(100.0)).alias("total"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "n_orders",
            "total",
        )
    )


_Q_ROLLUP_SQL = """
SELECT coalesce(r_name, '(all)') AS region,
       coalesce(n_name, '(all)') AS nation,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


# ---------------------------------------------------------------------------
# queries — generators (LCG-oracle, sf-independent)
# ---------------------------------------------------------------------------


def _gen_uniform(spark, sf):
    return to_data_frame(
        spark,
        [("v", G.from_uniform_distribution(10.0, 20.0, precision=4))],
        GEN_N,
        keep_index=True,
        rand_for=lambda i: LcgRandom("__idx__", 201 + i),
    )


_GEN_UNIFORM_SQL = f"""
SELECT "range" AS __idx__,
       printf('%.4f', {_u('"range"', 201, 0, stream=0)} * 10.0 + 10.0) AS v
FROM range(0, {GEN_N})
"""


def _gen_normal(spark, sf):
    return to_data_frame(
        spark,
        [("v", G.from_normal_distribution(100.0, 15.0, precision=4))],
        GEN_N,
        keep_index=True,
        rand_for=lambda i: LcgRandom("__idx__", 202 + i),
    )


_GEN_NORMAL_SQL = f"""
SELECT "range" AS __idx__,
       printf('%.4f',
         sqrt(ln(1.0 - {_u('"range"', 202, 0, stream=0)}) * -2.0)
           * cos({_u('"range"', 202, 1, stream=0)} * {TWO_PI!r})
           * 15.0 + 100.0) AS v
FROM range(0, {GEN_N})
"""


def _gen_freq_single(spark, sf):
    return to_data_frame(
        spark,
        [("fruit", G.from_frequency_table(FRUITS, "fruit", "count"))],
        GEN_N,
        keep_index=True,
        rand_for=lambda i: LcgRandom("__idx__", 203 + i),
    )


_GEN_FREQ_SINGLE_SQL = f"""
SELECT "range" AS __idx__,
       CASE WHEN u < 100 THEN 'apple'
            WHEN u < 150 THEN 'banana'
            ELSE 'orange' END AS fruit
FROM (
  SELECT "range",
         CAST(FLOOR({_u('"range"', 203, 0, stream=0)} * 230.0) AS BIGINT) AS u
  FROM range(0, {GEN_N})
)
"""


def _gen_freq_multi(spark, sf):
    return to_data_frame(
        spark,
        [
            (
                ("fruit", "type"),
                G.from_multicolumn_frequency_table(
                    FRUIT_TYPES, ["fruit", "type"], "count"
                ),
            )
        ],
        GEN_N,
        keep_index=True,
        rand_for=lambda i: LcgRandom("__idx__", 204 + i),
    )


# cum weights: 30,100,140,150,205,230 over the six (fruit, type) rows
_GEN_FREQ_MULTI_SQL = f"""
SELECT "range" AS __idx__,
       CASE WHEN u < 100 THEN 'apple'
            WHEN u < 150 THEN 'banana'
            ELSE 'orange' END AS fruit,
       CASE WHEN u < 30 THEN 'braeburn'
            WHEN u < 100 THEN 'elstar'
            WHEN u < 140 THEN 'cavendish'
            WHEN u < 150 THEN 'plantain'
            WHEN u < 205 THEN 'clementine'
            ELSE 'mandarin' END AS type
FROM (
  SELECT "range",
         CAST(FLOOR({_u('"range"', 204, 0, stream=0)} * 230.0) AS BIGINT) AS u
  FROM range(0, {GEN_N})
)
"""


def _gen_datetime(spark, sf):
    return to_data_frame(
        spark,
        [("d", G.from_datetime_range("2020-01-01", "2023-12-31", "%Y-%m-%d", "d"))],
        GEN_N,
        keep_index=True,
        rand_for=lambda i: LcgRandom("__idx__", 205 + i),
    )


# 1460 whole days in [2020-01-01, 2023-12-31]; sampling inclusive → 1461
_GEN_DATETIME_SQL = f"""
SELECT "range" AS __idx__,
       strftime(TIMESTAMP '2020-01-01 00:00:00'
                + CAST(FLOOR({_u('"range"', 205, 0, stream=0)} * 1461.0) AS BIGINT)
                  * INTERVAL '1 day', '%Y-%m-%d') AS d
FROM range(0, {GEN_N})
"""


def _gen_group(spark, sf):
    # weighted union of two sub-generators, per-row weighted choice mode
    return to_data_frame(
        spark,
        [
            (
                "fruit",
                G.from_group(
                    [
                        (0.75, G.from_frequency_table(FRUITS, "fruit", "count")),
                        (0.25, G.from_uniform_distribution(0, 1, precision=2)),
                    ]
                ),
            )
        ],
        GEN_N,
        keep_index=True,
        rand_for=lambda i: LcgRandom("__idx__", 208 + i),
    )


def _gen_group_sql() -> str:
    # choice mode: group u salt 0 stream 0; sub-gen i on fork(i+1) → stream i+2
    key = '"range"'
    freq_u = f"CAST(FLOOR({_u(key, 208, 0, stream=2)} * 230.0) AS BIGINT)"
    unif = f"printf('%.2f', {_u(key, 208, 0, stream=3)} * 1.0 + 0.0)"
    return f"""
SELECT "range" AS __idx__,
       CASE WHEN {_u(key, 208, 0, stream=0)} < 0.75 THEN
         (CASE WHEN {freq_u} < 100 THEN 'apple'
               WHEN {freq_u} < 150 THEN 'banana'
               ELSE 'orange' END)
       ELSE {unif} END AS fruit
FROM range(0, {GEN_N})
"""


# ---------------------------------------------------------------------------
# queries — mutators (LCG-oracle over warehouse tables)
# ---------------------------------------------------------------------------


def _mut_missing(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return M.with_missing_value("N/A").apply(
        c, "c_mktsegment", 0.25, rand=LcgRandom("c_custkey", 101)
    )


_MUT_MISSING_SQL = f"""
SELECT c_custkey,
       CASE WHEN c_mktsegment <> 'N/A' AND {_u('c_custkey', 101, 0)} < 0.25
            THEN 'N/A' ELSE c_mktsegment END AS c_mktsegment
FROM customer
"""


def _mut_uppercase(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return M.with_uppercase().apply(c, "c_name", 0.5, rand=LcgRandom("c_custkey", 102))


_MUT_UPPERCASE_SQL = f"""
SELECT c_custkey,
       CASE WHEN c_name <> upper(c_name) AND {_u('c_custkey', 102, 0)} < 0.5
            THEN upper(c_name) ELSE c_name END AS c_name
FROM customer
"""


def _mut_lowercase(spark, sf):
    p = load_table(spark, sf, "part").select("p_partkey", "p_type")
    return M.with_lowercase().apply(p, "p_type", 0.5, rand=LcgRandom("p_partkey", 103))


_MUT_LOWERCASE_SQL = f"""
SELECT p_partkey,
       CASE WHEN p_type <> lower(p_type) AND {_u('p_partkey', 103, 0)} < 0.5
            THEN lower(p_type) ELSE p_type END AS p_type
FROM part
"""


def _mut_repeat(spark, sf):
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    return M.with_repeat(" ").apply(
        o, "o_orderpriority", 0.3, rand=LcgRandom("o_orderkey", 104)
    )


_MUT_REPEAT_SQL = f"""
SELECT o_orderkey,
       CASE WHEN {_u('o_orderkey', 104, 0)} < 0.3
            THEN o_orderpriority || ' ' || o_orderpriority
            ELSE o_orderpriority END AS o_orderpriority
FROM orders
"""


def _mut_insert(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return M.with_insert().apply(c, "c_name", 0.4, rand=LcgRandom("c_custkey", 105))


_MUT_INSERT_SQL = f"""
SELECT c_custkey,
       CASE WHEN {_u('c_custkey', 105, 0)} < 0.4 THEN
         substr(c_name, 1, CAST(pos AS INTEGER))
           || ch
           || substr(c_name, CAST(pos AS INTEGER) + 1,
                     CAST(greatest(0, length(c_name) - pos) AS INTEGER))
       ELSE c_name END AS c_name
FROM (
  SELECT c_custkey, c_name,
         {_uint('c_custkey', 105, 1, 'length(c_name) + 1')} AS pos,
         {_charset_pick('c_custkey', 105, 2)} AS ch
  FROM customer
)
"""


def _mut_delete(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return M.with_delete().apply(c, "c_name", 0.4, rand=LcgRandom("c_custkey", 106))


_MUT_DELETE_SQL = f"""
SELECT c_custkey,
       CASE WHEN length(c_name) >= 1 AND {_u('c_custkey', 106, 0)} < 0.4 THEN
         substr(c_name, 1, CAST(pos AS INTEGER))
           || substr(c_name, CAST(pos AS INTEGER) + 2,
                     CAST(greatest(0, length(c_name) - (pos + 1)) AS INTEGER))
       ELSE c_name END AS c_name
FROM (
  SELECT c_custkey, c_name,
         {_uint('c_custkey', 106, 1, 'length(c_name)')} AS pos
  FROM customer
)
"""


def _mut_substitute(spark, sf):
    p = load_table(spark, sf, "part").select("p_partkey", "p_name")
    return M.with_substitute().apply(
        p, "p_name", 0.5, rand=LcgRandom("p_partkey", 107)
    )


_MUT_SUBSTITUTE_SQL = f"""
SELECT p_partkey,
       CASE WHEN length(p_name) >= 1 AND {_u('p_partkey', 107, 0)} < 0.5 THEN
         substr(p_name, 1, CAST(pos AS INTEGER))
           || ch
           || substr(p_name, CAST(pos AS INTEGER) + 2,
                     CAST(greatest(0, length(p_name) - pos - 1) AS INTEGER))
       ELSE p_name END AS p_name
FROM (
  SELECT p_partkey, p_name,
         {_uint('p_partkey', 107, 1, 'length(p_name)')} AS pos,
         {_charset_pick('p_partkey', 107, 2)} AS ch
  FROM part
)
"""


def _mut_transpose(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return M.with_transpose().apply(c, "c_name", 0.5, rand=LcgRandom("c_custkey", 108))


_MUT_TRANSPOSE_SQL = f"""
SELECT c_custkey,
       CASE WHEN length(c_name) >= 2 AND {_u('c_custkey', 108, 0)} < 0.5 THEN
         substr(c_name, 1, CAST(pos AS INTEGER))
           || substr(c_name, CAST(pos AS INTEGER) + 2, 1)
           || substr(c_name, CAST(pos AS INTEGER) + 1, 1)
           || substr(c_name, CAST(pos AS INTEGER) + 3,
                     CAST(greatest(0, length(c_name) - (pos + 2)) AS INTEGER))
       ELSE c_name END AS c_name
FROM (
  SELECT c_custkey, c_name,
         {_uint('c_custkey', 108, 1, 'length(c_name) - 1')} AS pos
  FROM customer
)
"""


def _mut_categorical(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    mut = M.with_categorical_values(pd.DataFrame({"seg": SEGMENTS}), "seg")
    return mut.apply(c, "c_mktsegment", 0.5, rand=LcgRandom("c_custkey", 109))


_SEG_LIST = "[" + ", ".join(f"'{s}'" for s in SEGMENTS) + "]"
_MUT_CATEGORICAL_SQL = f"""
SELECT c_custkey,
       CASE WHEN c_mktsegment IN ({", ".join(f"'{s}'" for s in SEGMENTS)})
                 AND {_u('c_custkey', 109, 0)} < 0.5
            THEN list_extract(
                   list_filter({_SEG_LIST}, x -> x <> c_mktsegment),
                   CAST({_uint('c_custkey', 109, 1, str(len(SEGMENTS) - 1))} AS INTEGER) + 1)
            ELSE c_mktsegment END AS c_mktsegment
FROM customer
"""


def _mut_permute(spark, sf):
    c = load_table(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    return M.with_permute().apply(
        c, ("c_name", "c_mktsegment"), 0.5, rand=LcgRandom("c_custkey", 110)
    )


# group mutators draw from the un-forked source → stream 0
_MUT_PERMUTE_SQL = f"""
SELECT c_custkey,
       CASE WHEN {_u('c_custkey', 110, 0, stream=0)} < 0.5
            THEN c_mktsegment ELSE c_name END AS c_name,
       CASE WHEN {_u('c_custkey', 110, 0, stream=0)} < 0.5
            THEN c_name ELSE c_mktsegment END AS c_mktsegment
FROM customer
"""


def _mut_datetime_offset(spark, sf):
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date")
    )
    mut = M.with_datetime_offset(4, "d", "%Y-%m-%d", prevent_wraparound=True)
    return mut.apply(o, "o_date", 0.5, rand=LcgRandom("o_orderkey", 111))


_MUT_DT_OFFSET_SQL = f"""
SELECT o_orderkey,
       CASE WHEN {_u('o_orderkey', 111, 0)} < 0.5 THEN
         strftime(CASE WHEN month(shifted) <> month(ts) THEN ts ELSE shifted END,
                  '%Y-%m-%d')
       ELSE base END AS o_date
FROM (
  SELECT o_orderkey, base, ts,
         ts + (CAST({_uint('o_orderkey', 111, 1, '4')} + 1 AS BIGINT)
               * CASE WHEN {_u('o_orderkey', 111, 2)} < 0.5 THEN -1 ELSE 1 END)
              * INTERVAL '1 day' AS shifted
  FROM (
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS base,
           strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') AS ts
    FROM orders
  )
)
"""


def _mut_replacement_whole(spark, sf):
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    tbl = pd.DataFrame(
        {"source": ["F", "F", "O"], "target": ["F1", "F2", "OX"]}
    )
    mut = M.with_replacement_table(tbl, "source", "target")
    return mut.apply(o, "o_orderstatus", 0.5, rand=LcgRandom("o_orderkey", 112))


_MUT_REPL_WHOLE_SQL = f"""
SELECT o_orderkey,
       CASE WHEN o_orderstatus IN ('F', 'O') AND {_u('o_orderkey', 112, 0)} < 0.5 THEN
         CASE o_orderstatus
           WHEN 'F' THEN (CASE WHEN {_uint('o_orderkey', 112, 1, '2')} = 0
                               THEN 'F1' ELSE 'F2' END)
           WHEN 'O' THEN 'OX'
         END
       ELSE o_orderstatus END AS o_orderstatus
FROM orders
"""


def _mut_splice(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    mut = M.with_generator(
        G.from_uniform_distribution(0.0, 100.0, precision=2), mode="append"
    )
    return mut.apply(c, ("c_name",), 0.4, rand=LcgRandom("c_custkey", 114))


# generator splice: selection stream 0; the spliced generator runs on
# rand.fork(7) → stream 8, uniform salt 0
_MUT_SPLICE_SQL = f"""
SELECT c_custkey,
       CASE WHEN {_u('c_custkey', 114, 0, stream=0)} < 0.4
            THEN c_name || ' '
                 || printf('%.2f', {_u('c_custkey', 114, 0, stream=8)} * 100.0 + 0.0)
            ELSE c_name END AS c_name
FROM customer
"""


def _mut_chain(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return mutate_data_frame(
        c,
        [
            ("c_name", (0.3, M.with_uppercase())),
            ("c_name", (0.3, M.with_delete())),
        ],
        rand_for=lambda step: LcgRandom("c_custkey", 1130 + step),
    )


_MUT_CHAIN_SQL = f"""
WITH step1 AS (
  SELECT c_custkey,
         CASE WHEN c_name <> upper(c_name) AND {_u('c_custkey', 1130, 0)} < 0.3
              THEN upper(c_name) ELSE c_name END AS c_name
  FROM customer
),
step2 AS (
  SELECT c_custkey, c_name,
         {_uint('c_custkey', 1131, 1, 'length(c_name)')} AS pos
  FROM step1
)
SELECT c_custkey,
       CASE WHEN length(c_name) >= 1 AND {_u('c_custkey', 1131, 0)} < 0.3 THEN
         substr(c_name, 1, CAST(pos AS INTEGER))
           || substr(c_name, CAST(pos AS INTEGER) + 2,
                     CAST(greatest(0, length(c_name) - (pos + 1)) AS INTEGER))
       ELSE c_name END AS c_name
FROM step2
"""


def _gen_group_exact(spark, sf):
    # G7 in exact-count mode: affine-permutation group assignment is
    # deterministic given the seed → full value-level oracle
    return to_data_frame(
        spark,
        [
            (
                "fruit",
                G.from_group(
                    [
                        (0.75, G.from_frequency_table(FRUITS, "fruit", "count")),
                        (0.25, G.from_uniform_distribution(0.0, 1.0, precision=2)),
                    ],
                    mode="exact",
                ),
            )
        ],
        GEN_N,
        keep_index=True,
        rand_for=lambda i: LcgRandom("__idx__", 206 + i),
    )


def _gen_group_exact_sql() -> str:
    from gecko_spark.operators.generators import _coprime_multiplier

    seed_mix = 206 * 1000003 + 0
    a = _coprime_multiplier(GEN_N, seed_mix)
    b = seed_mix % GEN_N
    # sub-generator streams: fork(i+1) on stream 0 → stream i+2
    key = '"range"'
    freq_u = f"CAST(FLOOR({_u(key, 206, 0, stream=2)} * 230.0) AS BIGINT)"
    unif = f"printf('%.2f', {_u(key, 206, 0, stream=3)} * 1.0 + 0.0)"
    return f"""
SELECT "range" AS __idx__,
       CASE WHEN ("range" * {a} + {b}) % {GEN_N} < 7500 THEN
         (CASE WHEN {freq_u} < 100 THEN 'apple'
               WHEN {freq_u} < 150 THEN 'banana'
               ELSE 'orange' END)
       ELSE {unif} END AS fruit
FROM range(0, {GEN_N})
"""


def _mut_missing_strict(spark, sf):
    """M5 under strict_p: eligibility (≠ sentinel) is measured with one
    aggregate and p is rescaled to min(1, p/p_actual) — the reference's
    exact contract (gecko/mutator.py:68-73, 688-691). The oracle
    reproduces the measurement as a scalar subquery."""
    o = load_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    return M.with_missing_value("F").apply(
        o, "o_orderstatus", 0.3, rand=LcgRandom("o_orderkey", 121), strict_p=True
    )


# eligibility = status <> 'F'; p_actual = avg(eligible); p_eff = min(1, .3/p_actual)
_MUT_MISSING_STRICT_SQL = f"""
WITH stats AS (
  SELECT avg(CASE WHEN o_orderstatus <> 'F' THEN 1.0 ELSE 0.0 END) AS pa FROM orders
)
SELECT o_orderkey,
       CASE WHEN o_orderstatus <> 'F'
                 AND {_u('o_orderkey', 121, 0)} < least(1.0, 0.3 / (SELECT pa FROM stats))
            THEN 'F' ELSE o_orderstatus END AS o_orderstatus
FROM orders
"""


def _q_semi_join(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    big = o.filter(F.col("o_totalprice") > 400_000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


_Q_SEMI_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 400000)
"""


def _q_set_ops(spark, sf):
    """UNION / INTERSECT / EXCEPT over nation keys referenced by
    customers vs suppliers, tagged per set operation."""
    c = load_table(spark, sf, "customer").select(
        F.col("c_nationkey").cast("int").alias("nk")
    )
    s = load_table(spark, sf, "supplier").select(
        F.col("s_nationkey").cast("int").alias("nk")
    )
    union = c.union(s).distinct().select(F.lit("union").alias("op"), "nk")
    inter = c.intersect(s).select(F.lit("intersect").alias("op"), "nk")
    # subtract = EXCEPT DISTINCT (exceptAll would keep multiplicity
    # leftovers for keys present on both sides)
    exc = c.subtract(s).select(F.lit("except").alias("op"), "nk")
    return union.unionByName(inter).unionByName(exc)


_Q_SET_OPS_SQL = """
SELECT 'union' AS op, nk FROM
  (SELECT DISTINCT c_nationkey AS nk FROM customer
   UNION SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect' AS op, nk FROM
  (SELECT DISTINCT c_nationkey AS nk FROM customer
   INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'except' AS op, nk FROM
  (SELECT DISTINCT c_nationkey AS nk FROM customer
   EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
"""


def _q_asof_join(spark, sf):
    """As-of join (operators/joins.py::asof_join — union + one ordered
    window pass, single shuffle): for each error event, the most recent
    click by the same user within the prior hour. Oracle is DuckDB's
    native ASOF LEFT JOIN, so the operator's semantics are checked
    against an independent as-of implementation."""
    ev = load_table(spark, sf, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.expr("unix_millis(ts)").alias("click_ms"),
    )
    out = asof_join(errors, clicks, on="ts", by="user_id", tolerance=3600.0)
    return out.select(
        "user_id",
        "err_id",
        F.expr("unix_millis(ts)").alias("err_ms"),
        "click_id",
        "click_ms",
    )


# Tolerance compares in exact integer microseconds on both engines
# (epoch_us vs the operator's unix_micros) — a millisecond-truncated
# comparison could disagree with Spark right at the 1-hour boundary.
_Q_ASOF_SQL = """
WITH errors AS (
  SELECT user_id, event_id AS err_id, ts FROM events WHERE event_type = 'error'
), clicks AS (
  SELECT user_id, event_id AS click_id, ts FROM events WHERE event_type = 'click'
)
SELECT e.user_id, e.err_id, epoch_ms(e.ts) AS err_ms,
       CASE WHEN epoch_us(e.ts) - epoch_us(c.ts) <= 3600000000 THEN c.click_id END AS click_id,
       CASE WHEN epoch_us(e.ts) - epoch_us(c.ts) <= 3600000000 THEN epoch_ms(c.ts) END AS click_ms
FROM errors e ASOF LEFT JOIN clicks c
  ON e.user_id = c.user_id AND e.ts >= c.ts
"""


def _q_range_join(spark, sf):
    """Band/range join (operators/joins.py::band_join): orders priced
    into value bands via a broadcast non-equi join (the fact side never
    shuffles), then aggregated per band in exact cents."""
    orders = load_table(spark, sf, "orders")
    bands = spark.createDataFrame(
        [
            ("tiny", 0.0, 50_000.0),
            ("small", 50_000.0, 150_000.0),
            ("large", 150_000.0, 300_000.0),
            ("huge", 300_000.0, 1.0e12),
        ],
        "band string, lo double, hi double",
    )
    return (
        band_join(orders, bands, "o_totalprice")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "sum_price_cents"
            ),
        )
    )


_Q_RANGE_SQL = """
WITH bands(band, lo, hi) AS (
  VALUES ('tiny', 0.0, 50000.0), ('small', 50000.0, 150000.0),
         ('large', 150000.0, 300000.0), ('huge', 300000.0, 1e12)
)
SELECT band, COUNT(*) AS n_orders,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


def _q6(spark, sf):
    """TPC-H Q6 shape: tight scan-level predicates + single aggregate —
    the filters and the 4-column projection must reach the parquet scan
    (PushedFilters / ReadSchema), no shuffle beyond the final
    aggregation. Revenue in exact discount-basis-point cents."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                _cents("l_extendedprice")
                * F.round(F.col("l_discount") * 100).cast("long")
            ).alias("revenue_bp"),
            F.count("*").alias("n_items"),
        )
    )


_Q6_SQL = """
SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
           * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_bp,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07 AND l_quantity < 24
"""


def _q4(spark, sf):
    """TPC-H Q4 shape: correlated EXISTS over a non-equi condition →
    one left-semi hash join on l_orderkey with the inequality as a
    residual join filter, then aggregate by priority."""
    o = load_table(spark, sf, "orders").alias("o")
    li = load_table(spark, sf, "lineitem").alias("l")
    sem = o.join(
        li,
        (F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        & (F.col("l.l_shipdate") > F.col("o.o_orderdate")),
        "left_semi",
    )
    return (
        sem.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def _q_cube(spark, sf):
    """CUBE over (returnflag, linestatus): all four grouping-set
    combinations in one pass; totals keyed with an 'ALL' sentinel so
    the subtotal rows compare portably."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "sum_qty",
        )
    )


_Q_CUBE_SQL = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def _q_percentiles(spark, sf):
    """Per-priority price percentiles, computed as the deterministic
    lower-rank element (type-1 quantile: the value at row_number
    ``floor((n-1)·p)+1`` in price order, ties broken by o_orderkey) —
    rank arithmetic is integer-exact on both engines, unlike
    interpolated quantiles whose float association order differs."""
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = o.select(
        "o_orderpriority",
        _cents("o_totalprice").alias("price_cents"),
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("o_orderpriority")).alias("n"),
    )
    agg = ranked.groupBy("o_orderpriority").agg(
        *[
            F.max(
                F.when(
                    F.col("rn")
                    == (F.floor((F.col("n") - 1) * F.lit(p)) + 1).cast("int"),
                    F.col("price_cents"),
                )
            ).alias(name)
            for p, name in [(0.25, "p25_cents"), (0.5, "p50_cents"), (0.75, "p75_cents")]
        ]
    )
    return agg


_Q_PERCENTILES_SQL = """
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice, o_orderkey) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM orders
)
SELECT o_orderpriority,
       MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.25) AS INTEGER) + 1 THEN price_cents END) AS p25_cents,
       MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.5) AS INTEGER) + 1 THEN price_cents END) AS p50_cents,
       MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * 0.75) AS INTEGER) + 1 THEN price_cents END) AS p75_cents
FROM ranked GROUP BY o_orderpriority
"""


def _q17(spark, sf):
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity) re-expressed as an aggregate + equi-join — the scalar
    threshold is computed once per part, broadcast back, and applied as
    a residual filter. The average is exact-integer sum/count divided
    once, so both engines derive the identical double."""
    li = load_table(spark, sf, "lineitem")
    avg_q = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (
            F.sum(F.col("l_quantity").cast("long")).cast("double")
            / F.count("*")
        ).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(avg_q), li.l_partkey == avg_q.pk)
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            F.sum(_cents("l_extendedprice")).alias("sum_price_cents"),
            F.count("*").alias("n_items"),
        )
    )


_Q17_SQL = """
SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       COUNT(*) AS n_items
FROM lineitem l
WHERE l_quantity < 0.5 * (
  SELECT CAST(SUM(CAST(l2.l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*)
  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
)
"""


def _q_distinct_counts(spark, sf):
    """Exact multi-column COUNT(DISTINCT) per group — Catalyst expands
    the two distincts into one partial-aggregate expand, no per-key
    collect."""
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_items"),
    )


_Q_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_items
FROM lineitem GROUP BY l_returnflag
"""


def _q10(spark, sf):
    """TPC-H Q10 shape: fact-dim join chain + revenue aggregation +
    top-20 — the returned-items report. Dimension joins broadcast; the
    top-k is a single ordered limit over the aggregated (small) side."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    n = load_table(spark, sf, "nation")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_disc_price_1e4()).alias("revenue_1e4"))
        .orderBy(F.col("revenue_1e4").desc(), F.col("c_custkey"))
        .limit(20)
    )
    return rev


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
           * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_1e4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_1e4 DESC, c_custkey
LIMIT 20
"""


def _q7(spark, sf):
    """TPC-H Q7 shape: the nation dimension joined TWICE under
    different roles (supplier vs customer side) with a cross-pair
    predicate — exercises self-aliased broadcast dims."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") < F.col("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.sn_key)
        .join(F.broadcast(n2), c.c_nationkey == n2.cn_key)
        .filter(pair & (F.year("l_shipdate") == 1997))
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.sum(_disc_price_1e4()).alias("volume_1e4"),
            F.count("*").alias("n_items"),
        )
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
           * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS volume_1e4,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name < n2.n_name AND year(l_shipdate) = 1997
GROUP BY n1.n_name, n2.n_name
"""


def _q13(spark, sf):
    """TPC-H Q13 shape: LEFT OUTER join with a predicate inside the
    join condition (not a post-filter — that would drop the zero-order
    customers the query exists to count), then a two-level aggregation
    into an order-count histogram."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
"""


def _q14(spark, sf):
    """TPC-H Q14 shape: promo revenue share — a ratio of two
    conditional sums in one aggregate pass; both sums exact-integer so
    the final division is one deterministic float op."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    promo = F.col("p_type") == "PROMO"
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    return j.agg(
        (
            F.lit(100.0)
            * F.sum(F.when(promo, _disc_price_1e4()).otherwise(F.lit(0).cast("long"))).cast("double")
            / F.sum(_disc_price_1e4()).cast("double")
        ).alias("promo_revenue_pct"),
        F.count("*").alias("n_items"),
    )


_Q14_SQL = """
SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                 THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      * CAST(round((1.0 - l_discount) * 100) AS BIGINT)
                 ELSE 0 END) AS DOUBLE)
       / CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
         AS promo_revenue_pct,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
"""


def _q18(spark, sf):
    """TPC-H Q18 shape: large-volume customers — aggregate subquery
    with HAVING feeding an IN-list (planned as a semi join), then the
    detail re-joined for output."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "total_qty")
    )


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, total_qty
FROM orders
JOIN (SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING total_qty > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def _q12(spark, sf):
    """TPC-H Q12 shape: join + conditional CASE-sum aggregation (the
    high/low priority split computed inside one aggregate pass)."""
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
"""


def _q19(spark, sf):
    """TPC-H Q19 shape: disjunction of conjunctive predicate branches —
    Catalyst pushes the common conjuncts and keeps the OR as one scan
    filter (no union of scans)."""
    li = load_table(spark, sf, "lineitem")
    p = load_table(spark, sf, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    branch1 = (
        (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20)
    )
    branch2 = (
        (F.col("p_size") <= 25) & (F.col("l_quantity") > 20) & (F.col("l_quantity") <= 40)
    )
    return (
        j.filter((F.col("l_discount") >= 0.02) & (branch1 | branch2))
        .agg(
            F.sum(_cents("l_extendedprice")).alias("sum_price_cents"),
            F.count("*").alias("n_items"),
        )
    )


_Q19_SQL = """
SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_discount >= 0.02
  AND ((p_size <= 10 AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_size <= 25 AND l_quantity > 20 AND l_quantity <= 40))
"""


def _q2(spark, sf):
    """TPC-H Q2 shape: correlated min-cost subquery (min supplier price
    per part within a region), decorrelated into ONE window-min over the
    part key — a single shuffle, vs groupBy+self-join's two. The
    supplier→nation→region dim chain broadcasts. No partsupp table in
    the test schema, so lineitem serves as the part-supplier link and
    extendedprice (exact cents) as the cost."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    p = load_table(spark, sf, "part")
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = li.join(eu_supp, li.l_suppkey == eu_supp.s_suppkey).select(
        "l_partkey", "s_name", "n_name", _cents("l_extendedprice").alias("price_cents")
    )
    w = Window.partitionBy("l_partkey")
    best = offers.withColumn("cost_cents", F.min("price_cents").over(w)).filter(
        F.col("price_cents") == F.col("cost_cents")
    )
    parts = p.filter((F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")).select(
        "p_partkey", "p_brand"
    )
    return (
        best.join(parts, best.l_partkey == parts.p_partkey)
        .select("p_partkey", "p_brand", "s_name", "n_name", "cost_cents")
        .distinct()
    )


_Q2_SQL = """
WITH eu AS (
  SELECT l_partkey, s_name, n_name,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT DISTINCT p_partkey, p_brand, s_name, n_name, price_cents AS cost_cents
FROM part JOIN eu ON p_partkey = eu.l_partkey
WHERE p_size <= 15 AND p_type = 'STANDARD'
  AND price_cents = (SELECT MIN(e2.price_cents) FROM eu e2
                     WHERE e2.l_partkey = part.p_partkey)
"""


def _q11(spark, sf):
    """TPC-H Q11 shape: per-group value filtered against a GLOBAL
    scalar aggregate (groups holding >0.02% of total — chosen to stay
    non-empty from sf0.01 through sf0.1). The scalar is a one-row
    broadcast; the threshold compare is cross-multiplied
    (value·5000 > total) so it stays integer-exact — no float division
    on either engine."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    vals = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_7")),
            s.s_nationkey == n.n_nationkey,
        )
        .select("l_partkey", _disc_price_1e4().alias("v"))
    )
    per_part = vals.groupBy("l_partkey").agg(F.sum("v").alias("part_value_1e4"))
    total = vals.agg(F.sum("v").alias("total_1e4"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value_1e4") * 5000 > F.col("total_1e4"))
        .select("l_partkey", "part_value_1e4")
    )


_Q11_SQL = """
WITH vals AS (
  SELECT l_partkey,
         CAST(round(l_extendedprice * 100) AS BIGINT)
         * CAST(round((1.0 - l_discount) * 100) AS BIGINT) AS v
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
)
SELECT l_partkey, CAST(SUM(v) AS BIGINT) AS part_value_1e4
FROM vals GROUP BY l_partkey
HAVING CAST(SUM(v) AS BIGINT) * 5000 > (SELECT CAST(SUM(v) AS BIGINT) FROM vals)
"""


def _q15(spark, sf):
    """TPC-H Q15 shape: max-over-view — quarterly revenue per supplier,
    keep the supplier(s) matching the global max. The max is a one-row
    broadcast against the already-aggregated (small) side; revenue is
    exact 1e-4 units so the equality is bit-safe."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_disc_price_1e4()).alias("total_rev_1e4"))
    )
    mx = rev.agg(F.max("total_rev_1e4").alias("mx"))
    return (
        s.join(rev, s.s_suppkey == rev.l_suppkey)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev_1e4") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_rev_1e4")
    )


_Q15_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS total_rev_1e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev_1e4
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev_1e4 = (SELECT MAX(total_rev_1e4) FROM rev)
"""


def _q16(spark, sf):
    """TPC-H Q16 shape: distinct-count per group with a NOT IN
    exclusion list — the NOT IN plans as a broadcast anti-join (the
    excluded-supplier list is small by contract), then one
    expand-based COUNT(DISTINCT)."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    p = load_table(spark, sf, "part")
    bad = s.filter(F.col("s_acctbal") < 0).select(F.col("s_suppkey").alias("bad_key"))
    li2 = li.join(F.broadcast(bad), li.l_suppkey == bad.bad_key, "left_anti")
    parts = p.filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin(1, 5, 9, 14, 23, 36, 45)
    )
    return (
        parts.join(li2, parts.p_partkey == li2.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#5'
  AND p_size IN (1, 5, 9, 14, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
"""


def _q20(spark, sf):
    """TPC-H Q20 shape: nested EXISTS chain — suppliers (in one
    nation) who shipped >30 units of some 'small%' part in 1997. Inner
    HAVING aggregate → join to the part filter → left-semi into the
    supplier dim. Each nesting level is one hash join; nothing
    re-correlates per row."""
    li = load_table(spark, sf, "lineitem")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    p = load_table(spark, sf, "part")
    shipped = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 30)
    )
    small_parts = p.filter(F.col("p_name").like("small%")).select("p_partkey")
    qual = (
        shipped.join(small_parts, shipped.l_partkey == small_parts.p_partkey)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_3")),
            s.s_nationkey == n.n_nationkey,
        )
        .join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


_Q20_SQL = """
SELECT s_suppkey, s_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND EXISTS (
    SELECT 1
    FROM (SELECT l_suppkey, l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS qty
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l_suppkey, l_partkey HAVING qty > 30) sh
    JOIN part ON sh.l_partkey = p_partkey
    WHERE p_name LIKE 'small%' AND sh.l_suppkey = s_suppkey)
"""


def _q21(spark, sf):
    """TPC-H Q21 shape: EXISTS + NOT EXISTS against the same relation
    (suppliers who were the ONLY late shipper of a multi-supplier
    order). The two correlated quantifiers decorrelate into ONE
    per-order aggregate — countDistinct(supplier) ≥ 2 replays EXISTS,
    countDistinct(late supplier) = 1 replays NOT EXISTS — so the fact
    table is scanned once, not three times. 'Late' is shipdate more
    than 60 days past orderdate (the schema has no commit/receipt
    dates)."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    o_f = o.filter(F.col("o_orderstatus") == "F").select("o_orderkey", "o_orderdate")
    l1 = li.join(o_f, li.l_orderkey == o_f.o_orderkey).withColumn(
        "late",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).cast(
            "int"
        ),
    )
    # ONE pass over the fact: reduce to (order, supplier) grain first.
    # Both downstream branches (per-order stats, qualifying suppliers)
    # consume THIS aggregate, whose shuffle child is identical in both —
    # Spark reuses the exchange, so lineitem is scanned once, not twice.
    per_os = l1.groupBy("l_orderkey", "l_suppkey").agg(
        F.sum("late").alias("n_late_rows")
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum((F.col("n_late_rows") > 0).cast("int")).alias("n_late_supp"),
    )
    qual = (
        per_os.filter(F.col("n_late_rows") > 0)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
    )
    return (
        qual.join(s, qual.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_1")),
            s.s_nationkey == n.n_nationkey,
        )
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").alias("numwait"))
    )


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE o_orderstatus = 'F' AND n_name = 'NATION_1'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
"""


def _q22(spark, sf):
    """TPC-H Q22 shape: substring-derived group key, scalar AVG
    subquery, and NOT EXISTS(orders) — customers in selected 'country
    codes' (last two digits of c_name) richer than the positive-balance
    average who never placed an urgent order (the filtered NOT EXISTS —
    unfiltered no-orders is vacuously empty in the test data, where
    every customer has orders). The average compare is cross-multiplied
    into int64 (bal·n > sum) so no float division is compared; the NOT
    EXISTS is a left-anti join over the pre-filtered orders side."""
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    codes = ["11", "17", "25", "33", "42", "56", "91"]
    base = c.select(
        "c_custkey",
        F.substring("c_name", -2, 2).alias("cntrycode"),
        _cents("c_acctbal").alias("bal_cents"),
    ).filter(F.col("cntrycode").isin(codes))
    pos = base.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("sum_cents"), F.count("*").alias("n_pos")
    )
    return (
        base.join(
            o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey"),
            base.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .crossJoin(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n_pos") > F.col("sum_cents"))
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal_cents").alias("totacctbal_cents"),
        )
    )


_Q22_SQL = """
WITH base AS (
  SELECT c_custkey,
         substr(c_name, length(c_name) - 1, 2) AS cntrycode,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
  WHERE substr(c_name, length(c_name) - 1, 2)
        IN ('11', '17', '25', '33', '42', '56', '91')
), pos AS (
  SELECT CAST(SUM(bal_cents) AS BIGINT) AS sum_cents, COUNT(*) AS n_pos
  FROM base WHERE bal_cents > 0
)
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(bal_cents) AS BIGINT) AS totacctbal_cents
FROM base, pos
WHERE bal_cents * n_pos > sum_cents
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY cntrycode
"""


def _q8(spark, sf):
    """TPC-H Q8 shape: market share — one nation's slice of regional
    revenue per order year. Numerator and denominator ride the SAME
    aggregate pass as exact 1e-4-unit ints (conditional sum vs total
    sum); the share is one double division at the end, so both engines
    derive the identical float."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    c = load_table(spark, sf, "customer")
    s = load_table(spark, sf, "supplier")
    p = load_table(spark, sf, "part")
    n_c = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("c_rkey")
    )
    n_s = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    vol = _disc_price_1e4()
    from_nation = (F.col("supp_nation") == "NATION_3").cast("long")
    return (
        li.join(p.filter(F.col("p_type") == "ECONOMY"), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n_c), c.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(r), F.col("c_rkey") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n_s), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(vol * from_nation).alias("nation_vol_1e4"),
            F.sum(vol).alias("total_vol_1e4"),
        )
        .select(
            "o_year",
            "nation_vol_1e4",
            "total_vol_1e4",
            (
                F.col("nation_vol_1e4").cast("double")
                / F.col("total_vol_1e4").cast("double")
            ).alias("mkt_share"),
        )
    )


_Q8_SQL = """
WITH vols AS (
  SELECT year(o_orderdate) AS o_year,
         CAST(round(l_extendedprice * 100) AS BIGINT)
         * CAST(round((1.0 - l_discount) * 100) AS BIGINT) AS vol,
         CASE WHEN n2.n_name = 'NATION_3' THEN 1 ELSE 0 END AS is_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
)
SELECT o_year,
       CAST(SUM(vol * is_nation) AS BIGINT) AS nation_vol_1e4,
       CAST(SUM(vol) AS BIGINT) AS total_vol_1e4,
       CAST(CAST(SUM(vol * is_nation) AS BIGINT) AS DOUBLE)
         / CAST(CAST(SUM(vol) AS BIGINT) AS DOUBLE) AS mkt_share
FROM vols GROUP BY o_year
"""


def _q9(spark, sf):
    """TPC-H Q9 shape: profit by supplier nation × order year over a
    part-name filter. The schema has no partsupp, so unit cost is the
    part's retail price (cents); profit stays exact int64:
    disc_price_1e4 − retail_cents·qty·100."""
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders")
    s = load_table(spark, sf, "supplier")
    p = load_table(spark, sf, "part")
    n = load_table(spark, sf, "nation")
    profit = _disc_price_1e4() - (
        _cents("p_retailprice")
        * F.col("l_quantity").cast("long")
        * F.lit(100).cast("long")
    )
    return (
        li.join(
            p.filter(F.col("p_name").like("%gear%")), li.l_partkey == p.p_partkey
        )
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(profit).alias("profit_1e4"), F.count("*").alias("n_items"))
    )


_Q9_SQL = """
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round((1.0 - l_discount) * 100) AS BIGINT)
                - CAST(round(p_retailprice * 100) AS BIGINT)
                  * CAST(l_quantity AS BIGINT) * 100) AS BIGINT) AS profit_1e4,
       COUNT(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%gear%'
GROUP BY n_name, year(o_orderdate)
"""


def _q_skew_join(spark, sf):
    """Skew-path contract query (operators/skew.py): salted_join spreads
    each join key over 8 salt buckets (orders side replicated ×8), then
    salted_groupby_agg two-phases the aggregation on o_orderpriority — a
    5-value key where EVERY group is hot (~12k rows/group at sf0.01,
    ~2.4B at 100 TB: one reducer per group without the salt). The oracle
    is the plain join+group — salting must be value-invisible.

    Both salts use the narrow ``salt_on`` form (join/group key + one
    within-group disambiguator, skew.py::_salt) so a wide table salts at
    2-column hash cost instead of hashing the full row."""
    from gecko_spark.operators.skew import salted_groupby_agg, salted_join

    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", _cents("l_extendedprice").alias("price_cents")
    )
    o = load_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(li, o, ["l_orderkey"], buckets=8, salt_on=["l_linenumber"])
    return salted_groupby_agg(
        j,
        ["o_orderpriority"],
        {
            "n_items": ("count", "l_orderkey"),
            "sum_price_cents": ("sum", "price_cents"),
        },
        buckets=32,
        salt_on=["l_orderkey", "l_linenumber"],
    )


_Q_SKEW_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def _charsafe_alpha(a: str, b: str) -> str:
    """Per-pair remap alphabet: every non-ASCII or control codepoint
    appearing in either string, in first-appearance order. DuckDB's
    levenshtein / jaro_winkler_similarity count UTF-8 BYTES while
    Spark's builtins and the package kernels count CHARACTERS
    (adversarial linkage fixture, round 12: the NFC-vs-NFD 'müller'
    pair is char-distance 2 but byte-distance 4, so the engines
    disagreed on pair membership). Injectively remapping each such
    codepoint to an unused 1-byte char (chr(1..31), chr(127)) makes
    byte metrics equal char metrics — any injective per-pair remap
    preserves both edit distance and Jaro-Winkler, which depend only
    on char equality and positions. BMP caveat: Spark's levenshtein
    counts UTF-16 code units, so astral chars (emoji) would count as
    2 there — the fixtures keep linkage names inside the BMP."""
    return (
        f"list_distinct(list_filter("
        f"regexp_extract_all(COALESCE({a}, '') || COALESCE({b}, ''), '(?s).'),"
        f" c -> unicode(c) > 126 OR unicode(c) < 32))"
    )


def _charsafe_enc(x: str, alpha: str = "__alpha__") -> str:
    """Encode ``x`` through the pair's remap alphabet (see
    :func:`_charsafe_alpha`). ASCII-only pairs pass through untouched;
    more than 32 distinct remappable codepoints in one pair errors
    loudly rather than colliding silently."""
    return f"""CASE
      WHEN {x} IS NULL THEN NULL
      WHEN len({alpha}) = 0 THEN {x}
      WHEN len({alpha}) > 32 THEN error('char-safe remap overflow (>32)')
      ELSE array_to_string(list_transform(regexp_extract_all({x}, '(?s).'),
             c -> CASE WHEN unicode(c) > 126 OR unicode(c) < 32
                       THEN chr(CASE WHEN list_position({alpha}, c) <= 31
                                     THEN list_position({alpha}, c)
                                     ELSE 127 END)
                       ELSE c END), '')
    END"""


def _q_linkage_blocked(spark, sf):
    """Record-linkage join (round 6, operators/linkage.py): self-link
    part names blocked on (first token, p_size) and scored with Spark's
    built-in ``levenshtein`` — the same classic edit distance DuckDB
    implements, so every (pair, distance) row is oracle-exact. The
    evaluation-side loop the reference's synthetic data exists to
    drive (gecko README: test data FOR record linkage)."""
    from gecko_spark.operators.linkage import block_first_token, linkage_join

    part = load_table(spark, sf, "part")
    pa = part.select("p_partkey", "p_name", "p_size")
    return (
        linkage_join(
            pa, pa, "p_partkey", "p_partkey", "p_name",
            block_a=[block_first_token("p_name"), F.col("p_size")],
            block_b=[block_first_token("p_name"), F.col("p_size")],
            max_dist=2, keep="all",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "dist")
    )


def _linkage_blocked_sql() -> str:
    return f"""
WITH l AS (SELECT p_partkey AS id_a, lower(split_part(p_name, ' ', 1)) AS bk,
                  p_size AS sz, p_name AS na FROM part),
     r AS (SELECT p_partkey AS id_b, lower(split_part(p_name, ' ', 1)) AS bk,
                  p_size AS sz, p_name AS nb FROM part),
j AS (
  SELECT id_a, id_b, na, nb, {_charsafe_alpha('na', 'nb')} AS __alpha__
  FROM l JOIN r USING (bk, sz) WHERE id_a < id_b
), enc AS (
  SELECT id_a, id_b, {_charsafe_enc('na')} AS ea, {_charsafe_enc('nb')} AS eb
  FROM j
)
SELECT id_a, id_b, CAST(levenshtein(ea, eb) AS INT) AS dist
FROM enc WHERE levenshtein(ea, eb) <= 2
"""


def _q_linkage_snm(spark, sf):
    """Sorted-neighborhood candidate generation (round 6): rank
    customers by name with the TWO-PHASE global rank (order-respecting
    range buckets + broadcast offsets — never a single-reducer window)
    and pair each record with its next 2 neighbors. The oracle replays
    the NAIVE global ``ROW_NUMBER`` formulation, proving the
    distributed rank bit-identical to the single-reducer semantics."""
    from gecko_spark.operators.linkage import sorted_neighborhood_pairs

    cust = load_table(spark, sf, "customer")
    pairs = sorted_neighborhood_pairs(
        cust.select("c_custkey", "c_name"), "c_name", "c_custkey",
        window=3, keep_cols=["c_name"], buckets=16,
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.levenshtein(F.col("a_c_name"), F.col("b_c_name")).cast("int").alias("dist"),
    )


def _linkage_snm_sql() -> str:
    # NULLS FIRST matches Spark's ASC default (adversarial linkage
    # fixture, round 12: a NULL-name row shifted the whole neighborhood
    # under DuckDB's NULLS-LAST default)
    return f"""
WITH ranked AS (
  SELECT c_custkey AS id, c_name AS nm,
         row_number() OVER (ORDER BY c_name ASC NULLS FIRST, c_custkey) AS rnk
  FROM customer),
j AS (
  SELECT a.id AS id_a, b.id AS id_b, a.nm AS na, b.nm AS nb,
         {_charsafe_alpha('a.nm', 'b.nm')} AS __alpha__
  FROM ranked a JOIN ranked b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 2
)
SELECT id_a, id_b,
       CAST(levenshtein({_charsafe_enc('na')}, {_charsafe_enc('nb')}) AS INT)
         AS dist
FROM j
"""


def _q_linkage_jw(spark, sf):
    """Jaro-Winkler linkage scoring (round 6): the engine's pure-Python
    kernel (linkage.py::jaro_winkler_py — Winkler prefix ≤ 4, p=0.1,
    boost threshold 0.7) is bit-identical to DuckDB's
    ``jaro_winkler_similarity``, so double-typed scores hash-match;
    the 1e9 rounding only removes the residual last-ulp risk on
    untested inputs."""
    from gecko_spark.operators.linkage import block_first_token, linkage_join

    part = load_table(spark, sf, "part")
    pa = part.select("p_partkey", "p_name", "p_size")
    return (
        linkage_join(
            pa, pa, "p_partkey", "p_partkey", "p_name",
            block_a=[block_first_token("p_name"), F.col("p_size")],
            block_b=[block_first_token("p_name"), F.col("p_size")],
            score="jaro_winkler", min_sim=0.8, keep="all",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(F.col("sim") * 1e9).cast("long").alias("sim_1e9"),
        )
    )


def _linkage_jw_sql() -> str:
    # the remap preserves Jaro-Winkler exactly (it depends only on char
    # equality and positions), so DuckDB's byte-wise builtin computes
    # the char-wise score of the originals on the encoded pair
    return f"""
WITH l AS (SELECT p_partkey AS id_a, lower(split_part(p_name, ' ', 1)) AS bk,
                  p_size AS sz, p_name AS na FROM part),
     r AS (SELECT p_partkey AS id_b, lower(split_part(p_name, ' ', 1)) AS bk,
                  p_size AS sz, p_name AS nb FROM part),
j AS (
  SELECT id_a, id_b, na, nb, {_charsafe_alpha('na', 'nb')} AS __alpha__
  FROM l JOIN r USING (bk, sz) WHERE id_a < id_b
), enc AS (
  SELECT id_a, id_b, {_charsafe_enc('na')} AS ea, {_charsafe_enc('nb')} AS eb
  FROM j
)
SELECT id_a, id_b,
       CAST(round(jaro_winkler_similarity(ea, eb) * 1e9) AS BIGINT) AS sim_1e9
FROM enc WHERE jaro_winkler_similarity(ea, eb) >= 0.8
"""

# Fellegi-Sunter field weights for q_linkage_fs: log2 odds precomputed
# here so BOTH engines evaluate identical double literals (the float
# parity question never arises — it's literal arithmetic both sides)
_FS_M_U = {
    "name": (0.9, 0.01, 1),      # levenshtein <= 1 agreement
    "mkt": (0.95, 0.2, None),    # exact agreement
}


def _q_linkage_fs(spark, sf):
    """Probabilistic (Fellegi-Sunter) linkage weights (round 6): sum of
    literal log2 m/u odds over per-field agreement predicates — pure
    JVM codegen, replayed by the oracle with the same literals."""
    import math

    from gecko_spark.operators.linkage import fellegi_sunter_join

    cust = load_table(spark, sf, "customer")
    c = cust.select(
        "c_custkey",
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("mkt"),
        F.col("c_nationkey").alias("nat"),
    )
    return (
        fellegi_sunter_join(
            c, c, "c_custkey", "c_custkey",
            fields={"name": _FS_M_U["name"], "mkt": _FS_M_U["mkt"][:2]},
            block_a=[F.col("nat")], block_b=[F.col("nat")],
            min_weight=0.0, keep="all",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(F.col("weight") * 1e9).cast("long").alias("weight_1e9"),
        )
    )


def _fs_sql() -> str:
    import math

    nm, nu, _ = _FS_M_U["name"]
    mm, mu, _ = _FS_M_U["mkt"]
    na, nd = math.log2(nm / nu), math.log2((1 - nm) / (1 - nu))
    ma, md = math.log2(mm / mu), math.log2((1 - mm) / (1 - mu))
    return f"""
WITH c AS (SELECT c_custkey AS id, c_name AS nm, c_mktsegment AS mk,
                  c_nationkey AS nat FROM customer),
j AS (
  SELECT a.id AS id_a, b.id AS id_b, a.nm AS na, b.nm AS nb,
         a.mk AS mka, b.mk AS mkb,
         {_charsafe_alpha('a.nm', 'b.nm')} AS __alpha__
  FROM c a JOIN c b ON a.nat = b.nat AND a.id < b.id),
scored AS (
  SELECT id_a, id_b,
         (CASE WHEN levenshtein({_charsafe_enc('na')},
                                {_charsafe_enc('nb')}) <= 1
               THEN {na!r} ELSE {nd!r} END
          + CASE WHEN mka = mkb THEN {ma!r} ELSE {md!r} END) AS weight
  FROM j)
SELECT id_a, id_b, CAST(round(weight * 1e9) AS BIGINT) AS weight_1e9
FROM scored WHERE weight >= 0.0
"""


def _q_linkage_soundex(spark, sf):
    """Soundex-blocked linkage (linkage.py::block_soundex): self-link
    part names blocked on (soundex(first token), p_size), scored with
    Spark's built-in levenshtein. The oracle replays Spark's soundex
    in pure SQL (:func:`_soundex_sql` — fuzz-verified char-identical
    over 2.6k adversarial strings + every sf0.01 first token), closing
    the round-6 gap where soundex blocking was only unit-tested
    because DuckDB lacks the function."""
    from gecko_spark.operators.linkage import (
        block_first_token,
        block_soundex,
        linkage_join,
    )

    part = load_table(spark, sf, "part")
    pa = part.select("p_partkey", "p_name", "p_size")
    bk = [block_soundex(block_first_token("p_name")), F.col("p_size")]
    return (
        linkage_join(
            pa, pa, "p_partkey", "p_partkey", "p_name",
            block_a=bk, block_b=bk, max_dist=2, keep="all",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "dist")
    )


def _soundex_sql(e: str) -> str:
    """American Soundex as portable SQL, matching Spark's ``soundex``
    builtin exactly: leading non-letter returns the input unchanged;
    H/W are transparent (codes collapse through them); vowels and every
    other non-letter act as separators. RE2 has no backreferences, so
    run-collapse is six literal ``d+ -> d`` replacements."""
    u = f"upper({e})"
    lets = f"regexp_replace({u}, '[^A-Z]', '0', 'g')"
    t = (
        f"translate({lets}, 'ABCDEFGIJKLMNOPQRSTUVXYZ',"
        f" '012301202245501262301202')"
    )
    t = f"replace(replace({t}, 'H', ''), 'W', '')"
    for d in "123456":
        t = f"regexp_replace({t}, '{d}{d}+', '{d}', 'g')"
    body = (
        f"CASE WHEN substr({u},1,1) IN ('H','W') THEN {t} "
        f"ELSE substr({t}, 2) END"
    )
    return (
        f"CASE WHEN NOT regexp_matches(substr({e},1,1), '^[A-Za-z]$') "
        f"THEN {e} ELSE substr(substr({u},1,1) || "
        f"replace({body}, '0', '') || '000', 1, 4) END"
    )


def _linkage_soundex_sql() -> str:
    sx = _soundex_sql("split_part(p_name, ' ', 1)")
    return f"""
WITH l AS (SELECT p_partkey AS id_a, {sx} AS bk,
                  p_size AS sz, p_name AS na FROM part),
     r AS (SELECT p_partkey AS id_b, {sx} AS bk,
                  p_size AS sz, p_name AS nb FROM part),
j AS (
  SELECT id_a, id_b, na, nb, {_charsafe_alpha('na', 'nb')} AS __alpha__
  FROM l JOIN r USING (bk, sz) WHERE id_a < id_b
), enc AS (
  SELECT id_a, id_b, {_charsafe_enc('na')} AS ea, {_charsafe_enc('nb')} AS eb
  FROM j
)
SELECT id_a, id_b, CAST(levenshtein(ea, eb) AS INT) AS dist
FROM enc WHERE levenshtein(ea, eb) <= 2
"""


def _q_json_props(spark, sf):
    """Semi-structured column processing: parse the events ``props``
    JSON with a typed schema (from_json stays JVM-side — no Python in
    the parse path) and aggregate the extracted field per event type."""
    ev = load_table(spark, sf, "events")
    parsed = ev.withColumn(
        "k", F.from_json(F.col("props"), "k BIGINT").getField("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("n_null_k"),
    )


_Q_JSON_SQL = """
-- json_valid guard: Spark's from_json returns NULL on malformed JSON
-- while DuckDB's -> operator RAISES (adversarial events fixture, r11)
WITH parsed AS (
  SELECT event_type,
         CASE WHEN props IS NOT NULL AND json_valid(props)
              THEN CAST(props->>'k' AS BIGINT) END AS k
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       MIN(k) AS min_k,
       MAX(k) AS max_k,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_k
FROM parsed GROUP BY event_type
"""


def _gen_datasource(spark, sf):
    """Generation through the registered Python DataSource
    (sources/datasource.py): spark.read.format("gecko") with a JSON
    spec. Draws ride the same LCG over the absolute row index, so the
    oracle is the same SQL the to_data_frame queries use — proving the
    source's partition-parallel scan is value-identical to the
    projection-over-range plan."""
    import json

    from gecko_spark.sources.datasource import GeckoDataSource

    spark.dataSource.register(GeckoDataSource)
    spec = [
        {"name": "u", "type": "uniform", "low": 10.0, "high": 20.0, "precision": 4},
        {
            "name": "fruit",
            "type": "freq",
            "values": ["apple", "banana", "orange"],
            "weights": [100, 50, 80],
        },
    ]
    return (
        spark.read.format("gecko")
        .option("rows", GEN_N)
        .option("seed", 230)
        .option("numPartitions", 8)
        .option("spec", json.dumps(spec))
        .load()
    )


_GEN_DATASOURCE_SQL = f"""
SELECT "range" AS __idx__,
       printf('%.4f', {_u('"range"', 230, 0, stream=0)} * 10.0 + 10.0) AS u,
       CASE WHEN ui < 100 THEN 'apple'
            WHEN ui < 150 THEN 'banana'
            ELSE 'orange' END AS fruit
FROM (
  SELECT "range",
         CAST(FLOOR({_u('"range"', 231, 0, stream=0)} * 230.0) AS BIGINT) AS ui
  FROM range(0, {GEN_N})
)
"""


def _gen_function(spark, sf):
    # G1 escape hatch with a deterministic function → exact oracle
    return to_data_frame(
        spark,
        [("v", G.from_function(str, "hello"))],
        GEN_N,
        keep_index=True,
        rand_for=lambda i: LcgRandom("__idx__", 207 + i),
    )


_GEN_FUNCTION_SQL = f"""
SELECT "range" AS __idx__, 'hello' AS v FROM range(0, {GEN_N})
"""


def _reverse_str(s):
    # NULL-safe: with_function passes selected nulls through to the
    # function BY CONTRACT (mutators.py docstring — the reference
    # passes NaN), so the function owns NULL handling; the oracle's
    # reverse(NULL) is NULL (adversarial persons fixture, round 12)
    return None if s is None else s[::-1]


def _mut_function(spark, sf):
    # M1 escape hatch with a deterministic function → exact oracle
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return M.with_function(_reverse_str).apply(
        c, "c_name", 0.5, rand=LcgRandom("c_custkey", 118)
    )


# codepoint-wise reverse, NOT DuckDB's reverse() builtin: the builtin
# is grapheme-aware (keeps a base char before its combining mark),
# while Python's s[::-1] — what with_function's user fn runs — reverses
# CODEPOINTS (adversarial persons fixture, round 12: the NFD 'éclair'
# customer separated the two)
_SQL_CP_REVERSE = (
    "array_to_string(list_reverse("
    "regexp_extract_all(c_name, '(?s).')), '')"
)

_MUT_FUNCTION_SQL = f"""
SELECT c_custkey,
       CASE WHEN {_u('c_custkey', 118, 0)} < 0.5
            THEN {_SQL_CP_REVERSE} ELSE c_name END AS c_name
FROM customer
"""


def _mut_group(spark, sf):
    # M19 weighted multiplexer: 40% lowercase / 30% missing / 30% noop
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    mut = M.with_group([(0.4, M.with_lowercase()), (0.3, M.with_missing_value("GONE"))])
    return mut.apply(c, ("c_mktsegment",), 0.6, rand=LcgRandom("c_custkey", 119))


# group multiplexer draw layout: selection salt 0 / index salt 1 on the
# un-forked stream 0; sub-mutator j draws on fork(j+2).fork(0)
_MUT_GROUP_SQL = f"""
WITH drawn AS (
  SELECT c_custkey, c_mktsegment,
         {_u('c_custkey', 119, 0, stream=0)} < 0.6 AS sel,
         CASE WHEN {_u('c_custkey', 119, 1, stream=0)} < 0.4 THEN 0
              WHEN {_u('c_custkey', 119, 1, stream=0)} < 0.7 THEN 1
              ELSE 2 END AS idx
  FROM customer
),
step0 AS (
  SELECT c_custkey, sel, idx,
         CASE WHEN sel AND idx = 0 AND c_mktsegment <> lower(c_mktsegment)
              THEN lower(c_mktsegment) ELSE c_mktsegment END AS c_mktsegment
  FROM drawn
)
SELECT c_custkey,
       CASE WHEN sel AND idx = 1 AND c_mktsegment <> 'GONE'
            THEN 'GONE' ELSE c_mktsegment END AS c_mktsegment
FROM step0
"""


_CLDR_MINI_XML = """<?xml version="1.0" encoding="UTF-8"?>
<keyboard locale="zz-t-k0-test">
  <keyMap>
    <map iso="D01" to="q"/> <map iso="D02" to="w"/> <map iso="D03" to="e"/>
    <map iso="C01" to="a"/> <map iso="C02" to="s"/> <map iso="C03" to="d"/>
    <map iso="B01" to="y"/> <map iso="B02" to="x"/> <map iso="B03" to="c"/>
  </keyMap>
  <keyMap modifiers="shift">
    <map iso="D01" to="Q"/> <map iso="D02" to="W"/> <map iso="D03" to="E"/>
    <map iso="C01" to="A"/> <map iso="C02" to="S"/> <map iso="C03" to="D"/>
    <map iso="B01" to="Y"/> <map iso="B02" to="X"/> <map iso="B03" to="C"/>
  </keyMap>
</keyboard>
"""


def _cldr_candidates() -> dict[str, str]:
    import os
    import tempfile

    from gecko_spark.sources.cldr import load_cldr_candidates

    with tempfile.NamedTemporaryFile(
        "w", suffix=".xml", delete=False, encoding="utf-8"
    ) as f:
        f.write(_CLDR_MINI_XML)
        path = f.name
    try:
        return load_cldr_candidates(path)
    finally:
        os.unlink(path)


def _mut_cldr(spark, sf):
    # M2 keyboard typos — oracle-checkable: the kernel's two-stage pick
    # (random contained char, then random neighbor) uses only uniform(1)
    # and uniform(2), reproduced below as list/CASE SQL over the same
    # candidate map
    import tempfile

    with tempfile.NamedTemporaryFile(
        "w", suffix=".xml", delete=False, encoding="utf-8"
    ) as f:
        f.write(_CLDR_MINI_XML)
        path = f.name
    p = load_table(spark, sf, "part").select("p_partkey", "p_name")
    return M.with_cldr_keymap_file(path).apply(
        p, "p_name", 0.5, rand=LcgRandom("p_partkey", 120)
    )


def _mut_cldr_sql() -> str:
    cands = _cldr_candidates()
    keys = list(cands)  # pool iteration order == dict insertion order
    key_list = "[" + ", ".join(f"'{k}'" for k in keys) + "]"
    repl_cases = " ".join(
        f"WHEN '{k}' THEN substr('{cands[k]}', "
        f"CAST(FLOOR(u2 * {len(cands[k])}.0) AS INTEGER) + 1, 1)"
        for k in keys
    )
    return f"""
WITH drawn AS (
  SELECT p_partkey, p_name,
         list_filter({key_list}, c -> contains(p_name, c)) AS pool,
         {_u('p_partkey', 120, 0)} AS u0,
         {_u('p_partkey', 120, 1)} AS u1,
         {_u('p_partkey', 120, 2)} AS u2
  FROM part
),
picked AS (
  SELECT p_partkey, p_name, u0, u2,
         CASE WHEN len(pool) > 0
              THEN pool[CAST(FLOOR(u1 * len(pool)) AS INTEGER) + 1]
              END AS src
  FROM drawn
)
SELECT p_partkey,
       CASE WHEN src IS NOT NULL AND u0 < 0.5 THEN
         substr(p_name, 1, strpos(p_name, src) - 1)
           || (CASE src {repl_cases} END)
           || substr(p_name, strpos(p_name, src) + 1)
       ELSE p_name END AS p_name
FROM picked
"""


# -- table-driven Arrow-kernel mutators: rows-only checks -------------------

_OCR_TABLE = pd.DataFrame(
    {
        "source": ["l", "rn", "O", "5", "cl"],
        "target": ["1", "m", "0", "S", "d"],
    }
)

_PHONETIC_TABLE = pd.DataFrame(
    {
        "source": ["ph", "th", "Cust", "er"],
        "target": ["f", "t", "Kust", "a"],
        "flags": ["", "", "^", "$"],
    }
)


def _mut_replacement_inline(spark, sf):
    p = load_table(spark, sf, "part").select("p_partkey", "p_name")
    mut = M.with_replacement_table(_OCR_TABLE, "source", "target", inline=True)
    return mut.apply(p, "p_name", 0.5, rand=LcgRandom("p_partkey", 115))


def _mut_replacement_inline_sql() -> str:
    """Exact oracle for inline replacement: the per-source frequencies
    (over ALL rows, like the reference's bitmask counts) are a SQL
    aggregate, a row's claiming source is
    the ascending (frequency, source) minimum over its matches —
    exactly the kernel's loop — and the replacement splices at the
    first occurrence. The OCR table maps every source to exactly one
    target, so the target draw (floor(u·1) = 0) never branches."""
    srcs = list(_OCR_TABLE["source"])
    tgts = dict(zip(_OCR_TABLE["source"], _OCR_TABLE["target"]))
    alt = "|".join(srcs)  # sources are literal alphanumerics
    vals = ", ".join(f"('{s}', '{tgts[s]}')" for s in srcs)
    u0 = _u("p_partkey", 115, 0)
    return f"""
WITH base AS (
  SELECT p_partkey, p_name,
         ({u0} < 0.5 AND regexp_matches(p_name, '(?:{alt})')) AS sel
  FROM part
), srcs(src, tgt) AS (
  VALUES {vals}
), freqs AS (
  SELECT s.src, s.tgt,
         (SELECT COUNT(*) FROM base b WHERE contains(b.p_name, s.src)) AS f
  FROM srcs s
), claimed AS (
  SELECT p_partkey, src, tgt FROM (
    SELECT b.p_partkey, f.src, f.tgt,
           row_number() OVER (PARTITION BY b.p_partkey ORDER BY f.f, f.src) AS rn
    FROM base b JOIN freqs f ON b.sel AND f.f > 0 AND contains(b.p_name, f.src)
  ) WHERE rn = 1
)
SELECT b.p_partkey,
       CASE WHEN c.src IS NOT NULL THEN
         substr(b.p_name, 1, strpos(b.p_name, c.src) - 1) || c.tgt
           || substr(b.p_name, strpos(b.p_name, c.src) + length(c.src))
       ELSE b.p_name END AS p_name
FROM base b LEFT JOIN claimed c USING (p_partkey)
"""


def _mut_phonetic(spark, sf):
    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    mut = M.with_phonetic_replacement_table(
        _PHONETIC_TABLE, "source", "target", "flags"
    )
    return mut.apply(c, "c_name", 0.5, rand=LcgRandom("c_custkey", 116))


def _mut_phonetic_sql() -> str:
    """Exact oracle for the phonetic mutator on this corpus.

    The table expands to 8 positional rules (ph/th × {^,_,$}, ^Cust,
    er$). Customer names are 'Customer#<digits>' at every SF (verified:
    zero matches for every rule except ^Cust), so each row matches at
    most one rule: the favor-rare loop degenerates to options=1 ⇒
    acceptance probability 1 (the expanded uniform is always < 1), and
    the exact output is the anchored first-occurrence replacement on
    selected rows. Eligibility is still the full 8-rule disjunction,
    as in the kernel."""
    u0 = _u("c_custkey", 116, 0)
    mid = "substr(c_name, 2, greatest(length(c_name) - 2, 0))"
    elig_parts = []
    for pat, flag in [("ph", ""), ("th", ""), ("Cust", "^"), ("er", "$")]:
        if flag in ("", "^"):
            elig_parts.append(f"starts_with(c_name, '{pat}')")
        if flag in ("", "$"):
            elig_parts.append(f"ends_with(c_name, '{pat}')")
        if flag == "":
            elig_parts.append(f"contains({mid}, '{pat}')")
    elig = " OR ".join(elig_parts)
    return f"""
SELECT c_custkey,
       CASE WHEN ({elig}) AND {u0} < 0.5 AND starts_with(c_name, 'Cust')
            THEN 'Kust' || substr(c_name, 5)
            ELSE c_name END AS c_name
FROM customer
"""


_MUT_REGEX_SQL = f"""
SELECT o_orderkey,
       CASE WHEN {_u('o_orderkey', 117, 0)} < 0.5
            THEN regexp_replace(strftime(o_orderdate, '%Y-%m-%d'),
                                '(\\d{{4}})-(\\d{{2}})-(\\d{{2}})', '\\1-\\3-\\2')
            ELSE strftime(o_orderdate, '%Y-%m-%d') END AS o_date
FROM orders
"""


def _mut_regex(spark, sf):
    o = load_table(spark, sf, "orders").select(
        "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date")
    )
    tbl = pd.DataFrame(
        {
            "pattern": [r"(?P<y>\d{4})-(?P<m>\d{2})-(?P<d>\d{2})"],
            "y": ["(?P<y>)"],
            "m": ["(?P<d>)"],
            "d": ["(?P<m>)"],
        }
    )
    mut = M.with_regex_replacement_table(tbl, pattern_column="pattern")
    return mut.apply(o, "o_date", 0.5, rand=LcgRandom("o_orderkey", 117))


# ---------------------------------------------------------------------------
# queries — beyond-reference training-data ops
# ---------------------------------------------------------------------------


def _dedup_exact(spark, sf):
    from gecko_spark.operators.dedup import dedupe_exact

    docs = load_table(spark, sf, "documents")
    return dedupe_exact(docs, ["lang", "source"], id_col="doc_id").select(
        "doc_id", "lang", "source"
    )


_DEDUP_EXACT_SQL = """
SELECT doc_id, lang, source
FROM documents
QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
"""


def _dedup_groups(spark, sf):
    from gecko_spark.operators.dedup import exact_duplicate_groups

    docs = load_table(spark, sf, "documents")
    return exact_duplicate_groups(docs, ["lang", "source"], id_col="doc_id").select(
        "keep_id", "n_dupes"
    )


_DEDUP_GROUPS_SQL = """
SELECT min(doc_id) AS keep_id, count(*) AS n_dupes
FROM documents
GROUP BY lang, source
HAVING count(*) > 1
"""


def _dedup_minhash(spark, sf):
    from gecko_spark.operators.dedup import minhash_candidate_pairs

    docs = load_table(spark, sf, "documents")
    return minhash_candidate_pairs(docs, "doc_id", "text", num_hashes=64, bands=16)


def _minhash_sigs_cte(num_hashes: int = 64, n: int = 5) -> str:
    """Shared CTE body computing ``sigs(doc, sig)`` — the exact DuckDB
    replay of dedup.py::minhash_signature (code-point polynomial
    rolling hash mod 2^31-1, universal-hash permutations). Used by the
    batch-pair oracle AND the incremental-index oracle."""
    from gecko_spark.operators.dedup import _P, _perm_params

    params = _perm_params(num_hashes, seed=0)
    perm_rows = ", ".join(f"({p}, {a}, {b})" for p, (a, b) in enumerate(params))
    pows = []
    acc = 1
    for _ in range(n):
        pows.append(acc)
        acc = (acc * 256) % _P
    pows = pows[::-1]  # pows[j] multiplies the j-th char of the window
    win_terms = " + ".join(
        f"CAST(unicode(s[i+{j}]) AS BIGINT) * {pows[j]}" for j in range(n)
    )
    pw_lst = "[" + ",".join(str(p) for p in pows) + "]"
    return f"""hashes AS (
  SELECT doc_id AS doc, lower(text) AS s,
    CASE
      WHEN s IS NULL OR length(s) = 0 THEN CAST([] AS BIGINT[])
      WHEN length(s) < {n} THEN
        [ list_sum([CAST(unicode(s[j+1]) AS BIGINT) * {pw_lst}[{n} - length(s) + j + 1]
                    for j in range(0, length(s))]) % {_P} ]
      ELSE
        [ ({win_terms}) % {_P} for i in range(1, length(s) - {n - 2}) ]
    END AS h
  FROM documents
), perms(p, a, b) AS (
  VALUES {perm_rows}
), sig_elems AS (
  SELECT doc, p,
         CASE WHEN len(h) = 0 THEN {_P}
              ELSE list_min(list_transform(h, u -> (a * u + b) % {_P}))
         END AS v
  FROM hashes CROSS JOIN perms
), sigs AS (
  SELECT doc, list(v ORDER BY p) AS sig FROM sig_elems GROUP BY doc
)"""


def _dedup_minhash_sql(num_hashes: int = 64, bands: int = 16, n: int = 5) -> str:
    """Exact DuckDB oracle for the full MinHash+LSH pipeline.

    The engine's signature hash is portable integer arithmetic
    (dedup.py::minhash_signature): code-point polynomial rolling hash
    mod 2^31-1, then 64 universal-hash permutations, 16 band slices,
    in-bucket pair join. This SQL replays every step with the same
    constants, so candidate pairs AND estimated Jaccard match
    bit-for-bit. (ASCII corpus assumption: Python str.lower ==
    SQL lower; the testdata documents are ASCII.)
    """
    rpb = num_hashes // bands
    # The permutations are a 64-row VALUES table CROSS JOINed against
    # the docs (NOT literal lists indexed inside the inner lambda —
    # DuckDB would rebuild the 64-element list once per lambda
    # evaluation, a ~60× slowdown measured at sf0.01).
    return f"""
WITH {_minhash_sigs_cte(num_hashes, n)}, banded AS (
  SELECT doc, sig, b AS band, sig[b*{rpb}+1 : b*{rpb}+{rpb}] AS bucket
  FROM sigs, range(0, {bands}) t(b)
), pairs AS (
  SELECT l.doc AS id_a, r.doc AS id_b,
         len(list_filter(range(1, {num_hashes + 1}), p -> l.sig[p] = r.sig[p])) / {num_hashes}.0
           AS est_jaccard
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.bucket = r.bucket AND l.doc < r.doc
)
SELECT id_a, id_b, any_value(est_jaccard) AS est_jaccard
FROM pairs GROUP BY id_a, id_b
"""


def _dedup_incremental(spark, sf):
    """Incremental dedupe against a PERSISTED MinHash signature index
    (dedup.py::write_minhash_index / dedupe_against_index — the
    continuous-ingestion path, previously unit-tested only): the even
    doc_ids are written to a parquet index, the odd doc_ids arrive as
    the new batch and keep only rows with no indexed near-duplicate.
    The historical text is never re-read — the batch meets the index's
    banded signatures in one (band, bucket) equi-join. localCheckpoint
    materializes the survivors so the scratch index can be deleted
    before the driver collects."""
    import shutil
    import uuid

    from gecko_spark.operators.dedup import (
        dedupe_against_index,
        write_minhash_index,
    )

    docs = load_table(spark, sf, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scratch")
    path = os.path.join(base, f"mh_index_{uuid.uuid4().hex[:12]}")
    try:
        write_minhash_index(old, "doc_id", "text", path)
        index = spark.read.parquet(path)
        surv = dedupe_against_index(
            new, index, "doc_id", "text", threshold=0.8
        ).select("doc_id", "lang", "source")
        return surv.localCheckpoint()
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _dedup_incremental_sql(
    num_hashes: int = 64, bands: int = 16, n: int = 5, threshold: float = 0.8
) -> str:
    """Oracle: replay the signatures (shared CTE), band both halves,
    and keep odd docs with NO even-doc collision whose signature-match
    fraction reaches the threshold — exactly dedupe_against_index's
    drop rule."""
    rpb = num_hashes // bands
    return f"""
WITH {_minhash_sigs_cte(num_hashes, n)}, banded AS (
  SELECT doc, sig, b AS band, sig[b*{rpb}+1 : b*{rpb}+{rpb}] AS bucket
  FROM sigs, range(0, {bands}) t(b)
), dupes AS (
  SELECT DISTINCT nw.doc
  FROM banded nw JOIN banded ix
    ON nw.band = ix.band AND nw.bucket = ix.bucket
   AND nw.doc % 2 = 1 AND ix.doc % 2 = 0
  WHERE len(list_filter(range(1, {num_hashes + 1}),
                        p -> nw.sig[p] = ix.sig[p])) / {num_hashes}.0
        >= {threshold}
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc FROM dupes)
"""


def _dedup_simhash(spark, sf):
    from gecko_spark.core import adopt_cache_owner
    from gecko_spark.operators.dedup import simhash_candidate_pairs

    docs = load_table(spark, sf, "documents")
    owner = simhash_candidate_pairs(docs, "doc_id", "text", max_hamming=8)
    # owner adoption keeps the signature cache live for the derived cast
    return adopt_cache_owner(
        owner.withColumn("hamming", F.col("hamming").cast("long")), owner
    )


def _simhash_sh_cte(bits: int = 64) -> str:
    """Shared DuckDB CTE chain computing each document's UNSIGNED
    simhash sum ``s`` (table ``sh(doc, s)``) — replays
    dedup.py::simhash exactly: portable polynomial token hash, 64
    universal-hash majority-vote bits. Bit weights ride the perms
    VALUES table as HUGEINT (2^63 overflows BIGINT). Used by both the
    batch pair-mining oracle and the streaming near-dup parity
    oracle so the two necessarily agree on the fingerprint."""
    from gecko_spark.functions.portable_hash import P1, sql_horner
    from gecko_spark.operators.dedup import _perm_params

    params = _perm_params(bits, seed=1)
    perm_rows = ", ".join(
        f"({p}, {a}, {b}, {1 << p})" for p, (a, b) in enumerate(params)
    )
    half = P1 // 2
    horner_tok = sql_horner("t", P1)
    # [\p{{L}}\p{{N}}_] is Python \w exactly (verified char-by-char over
    # 6098 word codepoints: L* + Nd/Nl/No + underscore on both engines)
    # — the previous ASCII class silently dropped CJK /
    # accented tokens the Spark kernel keeps, found by the adversarial
    # fixture gate (tools/check_adversarial.py, round 11)
    return f"""toks AS (
  SELECT doc_id AS doc,
    COALESCE(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                         t -> len(t) > 0), []) AS tk
  FROM documents
), us AS (
  SELECT doc, list_transform(tk, t -> {horner_tok}) AS u FROM toks
), perms(p, a, b, pw) AS (
  VALUES {perm_rows}
), bits AS (
  SELECT doc,
         CASE WHEN 2 * len(list_filter(u, x -> (a * x + b) % {P1} < {half})) > len(u)
              THEN pw ELSE 0 END AS contrib
  FROM us CROSS JOIN perms
), sh AS (
  SELECT doc, SUM(contrib) AS s FROM bits GROUP BY doc
)"""


def _dedup_simhash_sql(bits: int = 64, chunks: int = 4, max_hamming: int = 8) -> str:
    """Exact DuckDB oracle for SimHash + pigeonhole blocking.

    Shared fingerprint CTEs from :func:`_simhash_sh_cte`; the signed
    simhash is recovered by an explicit two's-complement wrap, while
    chunk keys divide the unsigned value — the same bits Spark's
    arithmetic shiftright+mask extracts — then 16-bit chunk blocking
    and a true Hamming verify."""
    w = bits // chunks
    chunk_rows = ", ".join(f"({c}, {1 << (c * w)})" for c in range(chunks))
    return f"""
WITH {_simhash_sh_cte(bits)}, chunk_dividers(c, d) AS (
  VALUES {chunk_rows}
), blocked AS (
  SELECT doc,
         CAST(CASE WHEN s >= {1 << 63} THEN s - {1 << 64} ELSE s END AS BIGINT) AS sh,
         c, CAST((s // d) % {1 << w} AS BIGINT) AS key
  FROM sh CROSS JOIN chunk_dividers
), pairs AS (
  SELECT l.doc AS id_a, r.doc AS id_b, bit_count(xor(l.sh, r.sh)) AS hamming
  FROM blocked l JOIN blocked r ON l.c = r.c AND l.key = r.key AND l.doc < r.doc
)
SELECT id_a, id_b, CAST(MIN(hamming) AS BIGINT) AS hamming
FROM pairs GROUP BY id_a, id_b HAVING MIN(hamming) <= {max_hamming}
"""


def _dedup_jaccard(spark, sf):
    # prefix-filtered exact mode (AllPairs) + df-cap 500: identical
    # output to the naive inverted-index join on any corpus where no
    # 4-gram tops 500 docs (true at sf0.001/0.01 — max df 415/402), and
    # the capped universe keeps the sf0.1 low-entropy corpus from going
    # quadratic (naive Σf² = 1.9e9 rows; capped = 33M, prefix-join far
    # less). The oracle replicates the cap.
    from gecko_spark.core import adopt_cache_owner
    from gecko_spark.operators.dedup import ngram_jaccard_pairs_prefix

    docs = load_table(spark, sf, "documents")
    # hold the owner through the derived select (core.py chaining
    # caveat, round 14): a bare .select() drops the returned owner and
    # releases the internal prefix cache before any action runs — the
    # (explode → window → collect_list → slice) subtree then re-executes
    # once per consumer (4× in the plan dump)
    pairs = ngram_jaccard_pairs_prefix(
        docs, "doc_id", "text", n=4, threshold=0.35, max_shingle_freq=500
    )
    return adopt_cache_owner(
        pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")),
        pairs,
    )


_DEDUP_JACCARD_SQL = """
WITH sh0 AS (
  SELECT doc_id AS doc,
         unnest(list_distinct(list_transform(
           range(1, greatest(length(lower(text)) - 3, 1) + 1),
           i -> substr(lower(text), CAST(i AS INTEGER), 4)))) AS shingle
  FROM documents
),
df AS (SELECT shingle, count(*) AS f FROM sh0 GROUP BY shingle),
sh AS (SELECT sh0.doc, sh0.shingle FROM sh0 JOIN df USING (shingle) WHERE df.f <= 500),
sizes AS (SELECT doc, count(*) AS set_size FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT id_a, id_b,
       round(CAST(i AS DOUBLE) / CAST(sa.set_size + sb.set_size - i AS DOUBLE), 6)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE CAST(i AS DOUBLE) / CAST(sa.set_size + sb.set_size - i AS DOUBLE) >= 0.35
"""


def _topk_cosine(spark, sf):
    from gecko_spark.operators.similarity import cosine_topk_bruteforce

    emb = load_table(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # row hints: vec_id is unique, so the filter yields exactly 3 rows;
    # the corpus size comes from parquet FOOTER metadata (driver-side,
    # no Spark job) — the guard then costs zero jobs per call
    import os

    corpus_rows = None
    try:
        import pyarrow.parquet as _pq

        p = os.path.join(sf, "embeddings.parquet")
        if os.path.isfile(p):
            corpus_rows = _pq.read_metadata(p).num_rows
    except Exception:
        pass  # fall back to the guard's own count()
    return cosine_topk_bruteforce(
        emb, qs, k=5, corpus_rows=corpus_rows, query_rows=3
    ).select("query_id", "vec_id", "rank")


_TOPK_COSINE_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.qid AS query_id, e.vec_id,
         -- zero-norm convention: 0.0 (DuckDB's builtin returns -1.0 for
         -- a zero side; the Spark kernels score 0.0)
         CASE WHEN list_dot_product(e.embedding, e.embedding) = 0
                OR list_dot_product(q.qv, q.qv) = 0 THEN 0.0
              ELSE list_cosine_similarity(e.embedding, q.qv) END AS cos
  FROM embeddings e CROSS JOIN q
)
SELECT query_id, vec_id, CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
)
WHERE rnk <= 5
"""


def _dedup_embedding(spark, sf):
    """Hyperplane-LSH embedding near-dup with planes="first_k" — the
    sketch bits, bucket join, and exact-cosine verification all use
    strict-fold arithmetic, replayed exactly by the oracle."""
    from gecko_spark.operators.dedup import embedding_cosine_pairs

    emb = load_table(spark, sf, "embeddings")
    return embedding_cosine_pairs(
        emb, "vec_id", "embedding", threshold=0.1, n_planes=8, planes="first_k"
    ).select("id_a", "id_b", F.round(F.col("cosine") * 1e9).cast("long").alias("cos_1e9"))


def _dedup_embedding_sql(n_planes: int = 8, threshold: float = 0.1) -> str:
    plane_rows = ", ".join(f"({p}, {1 << p})" for p in range(n_planes))
    proj = _sql_seq_dot("e.embedding", "p.pvec")
    cos = f"{_sql_seq_dot('l.vec', 'r.vec')} / ({_sql_l2('l.vec')} * {_sql_l2('r.vec')})"
    return f"""
WITH plane_ids(p, pw) AS (
  VALUES {plane_rows}
), planes AS (
  SELECT p, pw, embedding AS pvec FROM embeddings JOIN plane_ids ON vec_id = p
), sketched AS (
  SELECT e.vec_id AS doc, e.embedding AS vec,
         SUM(CASE WHEN {proj} > 0 THEN p.pw ELSE 0 END) AS sketch
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, e.embedding
), pairs AS (
  SELECT l.doc AS id_a, r.doc AS id_b, {cos} AS cosine
  FROM sketched l JOIN sketched r
    ON l.sketch = r.sketch AND l.doc < r.doc
)
SELECT id_a, id_b, CAST(round(cosine * 1e9) AS BIGINT) AS cos_1e9
FROM pairs WHERE cosine >= {threshold}
"""


def _dedup_semantic(spark, sf):
    """SemDeDup-style clustered near-dup with init="first_k" —
    centroid assignment (argmax over sequential-fold dots, first-max
    tie-break) and in-cluster cosine verification are replayed exactly
    by the oracle. Cf. the LSH variant `_dedup_embedding`: same
    verification, data-adaptive candidate geometry."""
    from gecko_spark.operators.dedup import semantic_dedupe_pairs

    emb = load_table(spark, sf, "embeddings")
    # method="fold": sequential-fold cosine association is what the
    # DuckDB oracle replays bit-for-bit; the default "matrix" path
    # (per-cluster BLAS gram, the 100 TB shape) may differ in the last
    # ulp on exact-threshold ties
    return semantic_dedupe_pairs(
        emb, "vec_id", "embedding", threshold=0.1, n_clusters=16, init="first_k",
        method="fold",
    ).select("id_a", "id_b", F.round(F.col("cosine") * 1e9).cast("long").alias("cos_1e9"))


def _dedup_semantic_sql(n_clusters: int = 16, threshold: float = 0.1) -> str:
    assign_dot = _sql_seq_dot("e.embedding", "c.cvec")
    cos = f"{_sql_seq_dot('l.vec', 'r.vec')} / ({_sql_l2('l.vec')} * {_sql_l2('r.vec')})"
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {n_clusters}
), assign AS (
  SELECT e.vec_id, e.embedding, c.cid, {assign_dot} AS score
  FROM embeddings e CROSS JOIN cents c
), best AS (
  SELECT vec_id AS doc, embedding AS vec, cid AS cluster FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign
  ) WHERE rn = 1
), pairs AS (
  SELECT l.doc AS id_a, r.doc AS id_b, {cos} AS cosine
  FROM best l JOIN best r
    ON l.cluster = r.cluster AND l.doc < r.doc
)
SELECT id_a, id_b, CAST(round(cosine * 1e9) AS BIGINT) AS cos_1e9
FROM pairs WHERE cosine >= {threshold}
"""


def _sample_stratified(spark, sf):
    """Portable stratified sampling (operators/sampling.py): exact
    sample MEMBERSHIP replayed by the oracle, not just counts."""
    from gecko_spark.operators.sampling import stratified_sample

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return stratified_sample(
        o,
        "o_orderpriority",
        {"1-URGENT": 0.5, "3-MEDIUM": 0.25},
        rand=LcgRandom("o_orderkey", 311),
        default_fraction=0.05,
    )


def _sample_stratified_sql() -> str:
    u = lcg_uniform_sql("o_orderkey", 311, 11, stream=0)
    return f"""
SELECT o_orderkey, o_orderpriority FROM orders
WHERE {u} < CASE o_orderpriority
              WHEN '1-URGENT' THEN 0.5
              WHEN '3-MEDIUM' THEN 0.25
              ELSE 0.05 END
"""


def _sample_reservoir(spark, sf):
    """Deterministic per-group reservoir: the 3 smallest hash draws per
    market segment."""
    from gecko_spark.operators.sampling import hash_sample_n

    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return hash_sample_n(
        c, 3, rand=LcgRandom("c_custkey", 312), by="c_mktsegment", tiebreak="c_custkey"
    )


def _sample_reservoir_sql() -> str:
    u = lcg_uniform_sql("c_custkey", 312, 11, stream=0)
    return f"""
SELECT c_custkey, c_mktsegment FROM (
  SELECT c_custkey, c_mktsegment,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY {u}, c_custkey) AS rn
  FROM customer
) WHERE rn <= 3
"""


def _sample_weighted(spark, sf):
    """Efraimidis–Spirakis weighted reservoir (exact membership oracle
    — ln() agrees between engines, like the Box–Muller generator)."""
    from gecko_spark.operators.sampling import weighted_sample_n

    o = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return weighted_sample_n(
        o,
        5,
        "o_totalprice",
        rand=LcgRandom("o_orderkey", 313),
        by="o_orderpriority",
        tiebreak="o_orderkey",
    ).select("o_orderkey", "o_orderpriority")


def _sample_weighted_sql() -> str:
    u = lcg_uniform_sql("o_orderkey", 313, 11, stream=0)
    eps = float(2.0 ** -31)
    return f"""
SELECT o_orderkey, o_orderpriority FROM (
  SELECT o_orderkey, o_orderpriority,
         row_number() OVER (
           PARTITION BY o_orderpriority
           ORDER BY (CASE WHEN o_totalprice > 0
                          THEN ln(GREATEST({u}, {eps!r})) / o_totalprice
                          ELSE CAST('-infinity' AS DOUBLE) END) DESC,
                    o_orderkey
         ) AS rn
  FROM orders
) WHERE rn <= 5
"""


def _sample_mix_corpus(spark, sf):
    """Corpus mixture rebalancing (operators/sampling.py::mix_corpus):
    downsample strata to a 3:1:1 en/fr/zh language mixture — the
    data-mixing stage of a training pipeline. Integer-weight design
    keeps total and per-stratum caps in exact integer arithmetic, so
    the oracle replays the EXACT membership, caps included."""
    from gecko_spark.operators.sampling import mix_corpus

    docs = load_table(spark, sf, "documents").select("doc_id", "lang")
    return mix_corpus(
        docs,
        "lang",
        {"en": 3, "fr": 1, "zh": 1},
        rand=LcgRandom("doc_id", 314),
        tiebreak="doc_id",
    )


def _sample_mix_corpus_sql() -> str:
    u = lcg_uniform_sql("doc_id", 314, 11, stream=0)
    return f"""
WITH counts AS (
  SELECT lang AS g, COUNT(*) AS c FROM documents
  WHERE lang IN ('en', 'fr', 'zh') GROUP BY lang
),
wts(g, w) AS (VALUES ('en', 3), ('fr', 1), ('zh', 1)),
t AS (SELECT MIN(c * 5 // w) AS t FROM counts JOIN wts USING (g)),
caps AS (SELECT g, (SELECT t FROM t) * w // 5 AS cap FROM wts),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY {u}, doc_id) AS rn
  FROM documents WHERE lang IN ('en', 'fr', 'zh')
)
SELECT doc_id, lang FROM ranked JOIN caps ON ranked.lang = caps.g
WHERE rn <= cap
"""


def _sketch_kmv(spark, sf):
    """KMV distinct-count sketch (operators/sketches.py): one-pass
    mergeable estimator whose ESTIMATE is bit-reproducible — the
    portable hash makes even the order statistics engine-independent,
    so the oracle matches the approximate answer exactly (the HLL
    entries pull off the same trick for register sketches by carrying
    the register sum in integer space — see _sketch_hll)."""
    from gecko_spark.operators.sketches import kmv_distinct_estimate

    li = load_table(spark, sf, "lineitem").select(
        F.col("l_partkey").cast("string").alias("v")
    )
    return kmv_distinct_estimate(li, "v", k=256)


def _sketch_kmv_sql(k: int = 256) -> str:
    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        sql_horner,
        sql_mix64_ctes,
    )
    from gecko_spark.operators.sketches import _A1, _A2, _B1, _B2, _M

    h1 = f"(({sql_horner('v', P1)}) * {_A1} + {_B1}) % {P1}"
    h2 = f"(({sql_horner('v', P2)}) * {_A2} + {_B2}) % {P2}"
    # splitmix64 over the packed hash, top 62 bits — replays kmv_hash
    # (order statistics need the avalanche; see sketches._kmv_hash_np)
    return f"""
WITH vals AS (
  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS v FROM lineitem
), hashes AS (
  SELECT ({h1}) * {P2} + ({h2}) AS h0 FROM vals
),{sql_mix64_ctes('hashes', 'h0', 'z')},
mixed AS (
  SELECT CAST(z >> 2 AS BIGINT) AS h FROM __mix6
), topk AS (
  SELECT h FROM mixed ORDER BY h LIMIT {k}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_seen,
       CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE {float(k - 1)!r} * CAST({_M} AS DOUBLE) / CAST(MAX(h) AS DOUBLE)
       END AS estimate
FROM topk
"""


def _text_chunks(spark, sf):
    """Context-window chunking (text.py::chunk_documents): pure integer
    arithmetic + substring, replayed exactly by the oracle."""
    from gecko_spark.operators.text import chunk_documents

    docs = load_table(spark, sf, "documents")
    return chunk_documents(docs, max_chars=120, overlap=24)


def _text_chunks_sql(max_chars: int = 120, overlap: int = 24) -> str:
    step = max_chars - overlap
    return f"""
SELECT doc_id, chunk_id,
       substr(text, CAST(chunk_id * {step} + 1 AS INTEGER), {max_chars}) AS chunk
FROM (
  SELECT doc_id, text,
         unnest(range(0, CASE WHEN length(text) <= {max_chars} THEN 1
                              ELSE 1 + CAST(floor((length(text) - {max_chars} + {step - 1}) / {float(step)!r}) AS BIGINT)
                         END)) AS chunk_id
  FROM documents
)
"""


def _text_chunks_tokens(spark, sf):
    """Token-window chunking (text.py::chunk_documents_tokens): literal
    split → slice → join, engine-portable end to end."""
    from gecko_spark.operators.text import chunk_documents_tokens

    docs = load_table(spark, sf, "documents")
    return chunk_documents_tokens(docs, max_tokens=24, overlap=4)


def _text_chunks_tokens_sql(max_tokens: int = 24, overlap: int = 4) -> str:
    step = max_tokens - overlap
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), counted AS (
  SELECT doc_id, t,
         CASE WHEN len(t) <= {max_tokens} THEN 1
              ELSE 1 + CAST(floor((len(t) - {max_tokens} + {step - 1}) / {float(step)!r}) AS BIGINT)
         END AS nc
  FROM toks
), exploded AS (
  SELECT doc_id, t, unnest(range(0, nc)) AS chunk_id FROM counted
)
SELECT doc_id, chunk_id,
       array_to_string(t[CAST(chunk_id * {step} + 1 AS BIGINT):CAST(chunk_id * {step} + {max_tokens} AS BIGINT)], ' ') AS chunk
FROM exploded
"""


def _sketch_heavy_hitters(spark, sf):
    """Exact heavy hitters at fixed memory (sketches.py::heavy_hitters):
    per-partition Misra–Gries candidates (guaranteed superset of every
    φ-heavy value) + an exact candidate-pruned recount, equal to the
    naive full GROUP BY + HAVING the oracle runs. The key is a
    power-law bucket (⌊√l_partkey⌋ — bucket b covers ~2b+1 partkeys,
    so counts grow linearly in b) because uniform TPC-H keys have no
    heavy hitters by construction; φ = 1/100 keeps the Misra–Gries
    pruning active at sf0.1 (141 buckets > capacity 100). The final
    cut is integer arithmetic (cnt·den > num·n) — no float-boundary
    ambiguity between engines."""
    from gecko_spark.operators.sketches import heavy_hitters

    li = load_table(spark, sf, "lineitem")
    bucket = F.floor(F.sqrt(F.col("l_partkey"))).cast("long")
    return heavy_hitters(li, bucket, 1, 100)


_HEAVY_HITTERS_SQL = """
WITH src AS (
  SELECT CAST(CAST(FLOOR(SQRT(l_partkey)) AS BIGINT) AS VARCHAR) AS value
  FROM lineitem
),
n AS (SELECT COUNT(*) AS n_total FROM src),
cnts AS (SELECT value, COUNT(*) AS cnt FROM src GROUP BY value)
SELECT value, cnt FROM cnts CROSS JOIN n WHERE cnt * 100 > 1 * n_total
"""


def _sketch_topk_counts(spark, sf):
    """Exact bounded-memory top-10 by frequency
    (sketches.py::top_k_by_count): Misra–Gries candidates + exact
    recount + runtime certificate (k-th count must beat the MG error
    bound n/(capacity+1), checked from the k result rows — the query
    FAILS LOUDLY rather than return an uncertified top-k). Rank is
    (cnt desc, value asc) — a total order, so the result is unique and
    the oracle replays it with one ROW_NUMBER. Same power-law bucket
    key as `sketch_heavy_hitters`; capacity 120 keeps pruning active at
    sf0.1 (141 buckets) with a ~40% certificate margin."""
    from gecko_spark.operators.sketches import top_k_by_count

    li = load_table(spark, sf, "lineitem")
    bucket = F.floor(F.sqrt(F.col("l_partkey"))).cast("long")
    return top_k_by_count(li, bucket, k=10, capacity=120)


_TOPK_COUNTS_SQL = """
WITH src AS (
  SELECT CAST(CAST(FLOOR(SQRT(l_partkey)) AS BIGINT) AS VARCHAR) AS value
  FROM lineitem
),
cnts AS (SELECT value, COUNT(*) AS cnt FROM src GROUP BY value),
ranked AS (
  SELECT value, cnt,
         row_number() OVER (ORDER BY cnt DESC, value ASC) AS rank
  FROM cnts
)
SELECT value, cnt, rank FROM ranked WHERE rank <= 10
"""


def _sketch_quantiles(spark, sf):
    """Bottom-k quantile sketch (sketches.py): hash-ranked uniform row
    sample whose order statistics estimate quantiles. Rank hash is
    portable arithmetic, so the oracle reproduces the SAMPLE — and
    therefore the approximate estimates — bit-for-bit."""
    from gecko_spark.operators.sketches import quantile_estimate, quantile_sketch

    li = load_table(spark, sf, "lineitem").select(
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("id"),
        "l_extendedprice",
    )
    sk = quantile_sketch(li, "l_extendedprice", "id", k=256)
    return quantile_estimate(sk, [0.25, 0.5, 0.9, 0.99])


def _sketch_quantiles_sql(k: int = 256) -> str:
    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        sql_horner,
        sql_mix64_ctes,
    )
    from gecko_spark.operators.sketches import _A1, _A2, _B1, _B2

    h1 = f"(({sql_horner('id', P1)}) * {_A1} + {_B1}) % {P1}"
    h2 = f"(({sql_horner('id', P2)}) * {_A2} + {_B2}) % {P2}"
    return f"""
WITH rows_ AS (
  SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS id,
         CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem
), hashes AS (
  SELECT ({h1}) * {P2} + ({h2}) AS h0, v FROM rows_
),{sql_mix64_ctes('hashes', 'h0', 'z')},
mixed AS (
  SELECT CAST(z >> 2 AS BIGINT) AS h, v FROM __mix6
), topk AS (
  SELECT h, v FROM mixed ORDER BY h, v LIMIT {k}
), ranked AS (
  SELECT v, row_number() OVER (ORDER BY v) AS rn,
         (SELECT COUNT(*) FROM topk) AS m
  FROM topk
)
SELECT CAST(q AS DOUBLE) AS q, CAST(m AS BIGINT) AS n_sample, v AS estimate
FROM (VALUES (0.25), (0.5), (0.9), (0.99)) AS qs(q)
JOIN ranked ON rn = GREATEST(1, CAST(ceil(q * m) AS BIGINT))
"""


def _sketch_quantiles_by_group(spark, sf):
    """Per-group bottom-k quantile estimates — the skew-safe percentile
    shape (k rows of state per group via WindowGroupLimit, regardless
    of group size)."""
    from gecko_spark.operators.sketches import quantile_group_estimate

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag",
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ).alias("id"),
        "l_extendedprice",
    )
    return quantile_group_estimate(
        li, "l_returnflag", "l_extendedprice", "id", [0.5, 0.95], k=128
    )


def _sketch_quantiles_by_group_sql(k: int = 128) -> str:
    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        sql_horner,
        sql_mix64_ctes,
    )
    from gecko_spark.operators.sketches import _A1, _A2, _B1, _B2

    h1 = f"(({sql_horner('id', P1)}) * {_A1} + {_B1}) % {P1}"
    h2 = f"(({sql_horner('id', P2)}) * {_A2} + {_B2}) % {P2}"
    return f"""
WITH rows_ AS (
  SELECT l_returnflag AS g,
         CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS id,
         CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem
), hashes AS (
  SELECT g, ({h1}) * {P2} + ({h2}) AS h0, v FROM rows_
),{sql_mix64_ctes('hashes', 'h0', 'z')},
mixed AS (
  SELECT g, CAST(z >> 2 AS BIGINT) AS h, v FROM __mix6
), topk AS (
  SELECT g, v FROM (
    SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn
    FROM mixed
  ) WHERE rn <= {k}
), ranked AS (
  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY g) AS m
  FROM topk
)
SELECT g AS l_returnflag, CAST(q AS DOUBLE) AS q,
       CAST(m AS BIGINT) AS n_sample, v AS estimate
FROM (VALUES (0.5), (0.95)) AS qs(q)
JOIN ranked ON rn = GREATEST(1, CAST(ceil(q * m) AS BIGINT))
"""


def _topk_ivf(spark, sf):
    """IVF ANN with ``init="first_k"`` — deterministic centroids and
    sequential-fold float arithmetic end to end, so the assignment,
    probe selection, AND final ranking are replayed exactly by the
    DuckDB oracle (the kmeans init trades that determinism for
    recall)."""
    from gecko_spark.operators.similarity import cosine_topk_ivf, ivf_assign

    emb = load_table(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus, centroids = ivf_assign(
        emb, n_centroids=16, init="first_k", id_col="vec_id"
    )
    return cosine_topk_ivf(corpus, centroids, qs, k=5, nprobe=4).select(
        "query_id", "vec_id", "rank"
    )


def _sql_seq_dot(a: str, b: str) -> str:
    """Strict left-fold dot product — same association order as Spark's
    ``aggregate`` fold, so doubles match bit-for-bit."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"[CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in range(1, len({a})+1)]), (x, y) -> x + y)"
    )


def _sql_l2(a: str) -> str:
    return f"sqrt({_sql_seq_dot(a, a)})"


def _topk_ivf_sql(n_centroids: int = 16, nprobe: int = 4, k: int = 5) -> str:
    assign_dot = _sql_seq_dot("e.embedding", "c.cvec")
    probe_dot = _sql_seq_dot("q.qv", "c.cvec")
    cos = (f"CASE WHEN ({_sql_l2('b.embedding')}) * ({_sql_l2('b.embedding')}) = 0 OR ({_sql_l2('p.qv')}) * ({_sql_l2('p.qv')}) = 0 THEN 0.0 ELSE {_sql_seq_dot('b.embedding', 'p.qv')} / ({_sql_l2('b.embedding')} * {_sql_l2('p.qv')}) END")
    return f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < {n_centroids}
), assign AS (
  SELECT e.vec_id, e.embedding, c.cid, {assign_dot} AS score
  FROM embeddings e CROSS JOIN cents c
), best AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 3
), probe AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.qid ORDER BY {probe_dot} DESC, c.cid) AS pr
    FROM q CROSS JOIN cents c
  ) WHERE pr <= {nprobe}
), scored AS (
  SELECT p.qid AS query_id, b.vec_id, {cos} AS cos
  FROM probe p JOIN best b ON b.cid = p.cid
)
SELECT query_id, vec_id, CAST(rnk AS INTEGER) AS rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {k}
"""


def _topk_ivfpq(spark, sf):
    """Residual IVFADC with both quantizers in ``first_k`` mode —
    deterministic centroids AND codebooks, dsub=2 subspaces so every
    float reduction in the encode/ADC path is a single two-term sum:
    the DuckDB oracle replays assignment, residual encoding, the
    per-(query, list) ADC lookup tables, the shortlist window, and the
    exact-cosine re-rank bit-for-bit (similarity.py ivfpq_build /
    cosine_topk_ivfpq; cf. reference gecko's generator determinism
    contract, gecko/generator.py)."""
    from gecko_spark.operators.similarity import cosine_topk_ivfpq, ivfpq_build

    emb = load_table(spark, sf, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    codes, cents, books = ivfpq_build(
        emb, n_centroids=16, m=32, k_codes=8,
        init="first_k", pq_init="first_k", ivf_id_col="vec_id",
    )
    return cosine_topk_ivfpq(
        codes, cents, books, emb, qs, k=5, nprobe=4, shortlist=32
    ).select("query_id", "vec_id", "rank")


def _topk_ivfpq_sql(
    n_centroids: int = 16,
    m: int = 32,
    k_codes: int = 8,
    nprobe: int = 4,
    shortlist: int = 32,
    k: int = 5,
) -> str:
    """Replays cosine_topk_ivfpq exactly: with dsub=2 the kernel's
    expanded ||a−b||² form ((Σa² − 2·a·b) + Σb²) is three two-term
    sums — order-free in IEEE — and the per-vector ADC distance is a
    strict left fold over subspaces in j order (numpy's `dists += LUT_j`
    loop ≡ list_reduce over list(lv ORDER BY j))."""
    return "\nWITH " + _ivfpq_sql_body(
        "embeddings", n_centroids, m, k_codes, nprobe, shortlist, k
    )


def _ivfpq_sql_body(
    src: str,
    n_centroids: int,
    m: int,
    k_codes: int,
    nprobe: int,
    shortlist: int,
    k: int,
) -> str:
    """The IVFADC replay CTE chain over source relation ``src`` —
    shared by the plain (``topk_cosine_ivfpq``, src=embeddings) and
    OPQ-rotated (``topk_cosine_opq``, src=the rotation CTE) contracts.
    Returned WITHOUT a leading WITH so callers can prepend CTEs."""
    assign_dot = _sql_seq_dot("e.embedding", "c.cvec")
    probe_dot = _sql_seq_dot("q.qv", "c.cvec")
    d2 = (
        "(({r1}*{r1} + {r2}*{r2})"
        " - 2.0*({r1}*{b1} + {r2}*{b2}))"
        " + ({b1}*{b1} + {b2}*{b2})"
    )
    enc_d2 = d2.format(r1="r.r1", r2="r.r2", b1="b.b1", b2="b.b2")
    lut_d2 = d2.format(r1="q.qr1", r2="q.qr2", b1="b.b1", b2="b.b2")
    cos = (
        f"CASE WHEN ({_sql_l2('b.embedding')}) = 0 OR ({_sql_l2('p.qv')}) = 0 "
        f"THEN 0.0 ELSE {_sql_seq_dot('b.embedding', 'p.qv')} / "
        f"({_sql_l2('b.embedding')} * {_sql_l2('p.qv')}) END"
    )
    return f"""cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM {src} WHERE vec_id < {n_centroids}
), assign AS (
  SELECT e.vec_id, e.embedding, c.cid, {assign_dot} AS score
  FROM {src} e CROSS JOIN cents c
), best AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT vec_id, embedding, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
    FROM assign
  ) WHERE rn = 1
), resid AS (
  SELECT b.vec_id, b.cid AS list_id,
         [CAST(b.embedding[i] AS DOUBLE) - CAST(c.cvec[i] AS DOUBLE)
          for i in range(1, len(b.embedding)+1)] AS rvec
  FROM best b JOIN cents c ON c.cid = b.cid
), bsub AS (
  SELECT r.vec_id AS code, t.j,
         r.rvec[2*t.j+1] AS b1, r.rvec[2*t.j+2] AS b2
  FROM resid r CROSS JOIN range(0, {m}) t(j)
  WHERE r.vec_id < {k_codes}
), rsub AS (
  SELECT r.vec_id, r.list_id, t.j,
         r.rvec[2*t.j+1] AS r1, r.rvec[2*t.j+2] AS r2
  FROM resid r CROSS JOIN range(0, {m}) t(j)
), enc AS (
  SELECT vec_id, list_id, j, code FROM (
    SELECT r.vec_id, r.list_id, r.j, b.code,
           row_number() OVER (PARTITION BY r.vec_id, r.j
                              ORDER BY {enc_d2} ASC, b.code ASC) AS rn
    FROM rsub r JOIN bsub b ON b.j = r.j
  ) WHERE rn = 1
), q AS (
  SELECT vec_id AS qid, embedding AS qv FROM {src} WHERE vec_id < 3
), probe AS (
  SELECT qid, qv, cid FROM (
    SELECT q.qid, q.qv, c.cid,
           row_number() OVER (PARTITION BY q.qid ORDER BY {probe_dot} DESC, c.cid) AS pr
    FROM q CROSS JOIN cents c
  ) WHERE pr <= {nprobe}
), qrsub AS (
  SELECT p.qid, p.cid AS list_id, t.j,
         CAST(p.qv[2*t.j+1] AS DOUBLE) - CAST(c.cvec[2*t.j+1] AS DOUBLE) AS qr1,
         CAST(p.qv[2*t.j+2] AS DOUBLE) - CAST(c.cvec[2*t.j+2] AS DOUBLE) AS qr2
  FROM probe p JOIN cents c ON c.cid = p.cid
  CROSS JOIN range(0, {m}) t(j)
), lut AS (
  SELECT q.qid, q.list_id, q.j, b.code, {lut_d2} AS lv
  FROM qrsub q JOIN bsub b ON b.j = q.j
), adc AS (
  SELECT x.qid, x.vec_id,
         list_reduce(list_prepend(CAST(0 AS DOUBLE), list(x.lv ORDER BY x.j)),
                     (a, b) -> a + b) AS dist
  FROM (
    SELECT l.qid, e.vec_id, e.j, l.lv
    FROM enc e
    JOIN lut l ON l.list_id = e.list_id AND l.j = e.j AND l.code = e.code
  ) x
  GROUP BY x.qid, x.vec_id
), short AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY dist ASC, vec_id) AS sr
    FROM adc
  ) WHERE sr <= {shortlist}
), scored AS (
  SELECT s.qid AS query_id, b.vec_id, {cos} AS cos
  FROM short s
  JOIN {src} b ON b.vec_id = s.vec_id
  JOIN q p ON p.qid = s.qid
)
SELECT query_id, vec_id, CAST(rnk AS INTEGER) AS rank FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= {k}
"""


_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10


def _text_bm25_topk(spark, sf):
    """BM25 keyword retrieval (round 12, operators/retrieval.py):
    per-query top-10 over the documents corpus, queries = the first 80
    chars of every doc_id % 151 == 3 document (4 queries at sf0.01, 34
    at sf0.1). Lucene non-negative IDF, k1=1.2, b=0.75; per-term
    contributions micro-quantized to int64 and INTEGER-summed
    (associative → partition-proof), so the oracle replays tokenize →
    postings → pruned df → idf/length-norm → quantize → int sum →
    rank bit-for-bit."""
    from gecko_spark.operators.retrieval import bm25_topk

    docs = load_table(spark, sf, "documents")
    queries = docs.filter(F.col("doc_id") % 151 == 3).select(
        F.col("doc_id").alias("query_id"),
        F.substring(F.col("text"), 1, 80).alias("query_text"),
    )
    from gecko_spark.core import adopt_cache_owner

    owner = bm25_topk(docs, queries, k=_BM25_K, k1=_BM25_K1, b=_BM25_B)
    # owner adoption keeps the doclen cache live for the derived select
    return adopt_cache_owner(
        owner.select("query_id", "doc_id", "n_hit_terms", "score_micro", "rank"),
        owner,
    )


def _bm25_scored_cte() -> str:
    """The BM25 replay chain through ``scored(query_id, doc_id,
    n_hit_terms, score_micro)`` — shared by the plain top-k and the
    hard-negatives contracts. Literals mirror the Spark expression's
    PYTHON-computed constants (k1+1, 1−b) so both engines fold the
    identical doubles."""
    k1, b = _BM25_K1, _BM25_B
    return f"""{_TOKS_CTE},
doclen AS (SELECT doc_id, len(tk) AS dl FROM toks),
consts AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM doclen
),
posts AS (
  SELECT doc_id, t AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(tk) AS t FROM toks)
  GROUP BY doc_id, t
),
q AS (
  SELECT doc_id AS query_id,
         COALESCE(list_filter(
           string_split_regex(lower(substr(text, 1, 80)),
                              '[^\\p{{L}}\\p{{N}}_]+'),
           t -> len(t) > 0), []) AS qtk
  FROM documents WHERE doc_id % 151 = 3
),
qterms AS (SELECT DISTINCT query_id, unnest(qtk) AS term FROM q),
hit AS (
  SELECT p.* FROM posts p
  WHERE p.term IN (SELECT DISTINCT term FROM qterms)
),
dfs AS (SELECT term, COUNT(*) AS df FROM hit GROUP BY term),
contrib AS (
  SELECT qt.query_id, h.doc_id,
         CAST(ROUND(
           LN(1.0 + (c.n - d.df + 0.5) / (d.df + 0.5))
           * (CAST(h.tf AS DOUBLE) * {k1 + 1.0!r}
              / (CAST(h.tf AS DOUBLE)
                 + {float(k1)!r} * ({1.0 - b!r}
                     + {float(b)!r} * CAST(l.dl AS DOUBLE) / c.avgdl)))
           * 1000000.0) AS BIGINT) AS cm
  FROM hit h
  JOIN qterms qt USING (term)
  JOIN dfs d USING (term)
  JOIN doclen l USING (doc_id)
  CROSS JOIN consts c
),
scored AS (
  SELECT query_id, doc_id, COUNT(*) AS n_hit_terms,
         CAST(SUM(cm) AS BIGINT) AS score_micro
  FROM contrib GROUP BY query_id, doc_id
)"""


def _text_bm25_topk_sql() -> str:
    return f"""
WITH {_bm25_scored_cte()}
SELECT query_id, doc_id, n_hit_terms, score_micro, CAST(rnk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_micro DESC, doc_id) AS rnk
  FROM scored
) WHERE rnk <= {_BM25_K}
"""


def _bm25_hard_negatives(spark, sf):
    """BM25 hard-negative mining (retrieval.py::bm25_hard_negatives —
    the lexical half of the DPR recipe, mirroring the embedding-space
    ann_hard_negatives): per anchor (the same doc_id % 151 == 3 query
    set, labeled by lang), the 5 highest-BM25 docs whose lang DIFFERS
    (IS DISTINCT FROM — NULL-safe). The label filter sits UNDER the
    rank window; the oracle composes the shared BM25 replay chain with
    the label exclusion."""
    from gecko_spark.operators.retrieval import bm25_hard_negatives

    docs = load_table(spark, sf, "documents")
    anchors = docs.filter(F.col("doc_id") % 151 == 3).select(
        F.col("doc_id").alias("query_id"),
        F.substring(F.col("text"), 1, 80).alias("query_text"),
        F.col("lang").alias("label"),
    )
    from gecko_spark.core import adopt_cache_owner

    owner = bm25_hard_negatives(
        docs, anchors, k=5, label_col="lang", k1=_BM25_K1, b=_BM25_B
    )
    # owner adoption keeps the doclen cache live for the derived select
    return adopt_cache_owner(
        owner.select("query_id", "doc_id", "n_hit_terms", "score_micro", "rank"),
        owner,
    )


def _bm25_hard_negatives_sql() -> str:
    return f"""
WITH {_bm25_scored_cte()},
labeled AS (
  SELECT s.query_id, s.doc_id, s.n_hit_terms, s.score_micro
  FROM scored s
  JOIN documents d ON d.doc_id = s.doc_id
  JOIN documents a ON a.doc_id = s.query_id
  WHERE d.lang IS DISTINCT FROM a.lang
)
SELECT query_id, doc_id, n_hit_terms, score_micro, CAST(rnk AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score_micro DESC, doc_id) AS rnk
  FROM labeled
) WHERE rnk <= 5
"""


def _opq_fixture_rotation(dim: int):
    """The pinned OPQ serving-contract rotation: a deterministic SIGNED
    PERMUTATION — column j reads coordinate (5·j + 3) mod dim with sign
    (−1)^j. This is the OPQ paper's PQ-RO baseline (Ge et al. 2013
    compare against random dimension re-ordering, a special orthogonal
    transform), chosen because it is the one rotation family BOTH
    engines evaluate bit-exactly: a trained R (opq_train's SVD output)
    flows through BLAS dgemm, whose summation order is
    implementation-defined — not oracle-portable — while a signed
    permutation makes every output coordinate a single ±1·x product.
    Crucially the SPARK side still runs the real serving path
    (rotate_vectors' Arrow matmul — the fixture R is just its input),
    so the contract certifies rotate + IVFADC + rerank end-to-end."""
    import math as _math

    import numpy as np

    if _math.gcd(5, dim) != 1:
        raise ValueError(f"5 must be coprime with dim, got dim={dim}")
    R = np.zeros((dim, dim))
    for j in range(dim):
        R[(5 * j + 3) % dim, j] = 1.0 if j % 2 == 0 else -1.0
    return R


def _topk_opq(spark, sf):
    """OPQ SERVING path end-to-end (similarity.py rotate_vectors →
    ivfpq_build → cosine_topk_ivfpq): rotate the corpus with the pinned
    fixture rotation (see _opq_fixture_rotation — training via
    opq_train's SVD is fairly oracle-exempt; serving is not), then the
    whole IVFADC pipeline runs in rotated space. R is orthogonal, so
    rotated-space cosine equals original-space cosine — the ranking is
    the true answer, and the oracle replays rotation, assignment,
    residual encoding, ADC, shortlist, and rerank bit-for-bit."""
    from gecko_spark.operators.similarity import (
        cosine_topk_ivfpq,
        ivfpq_build,
        rotate_vectors,
    )

    emb = load_table(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    rot = rotate_vectors(emb, _opq_fixture_rotation(dim))
    qs = rot.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    codes, cents, books = ivfpq_build(
        rot, n_centroids=16, m=32, k_codes=8,
        init="first_k", pq_init="first_k", ivf_id_col="vec_id",
    )
    return cosine_topk_ivfpq(
        codes, cents, books, rot, qs, k=5, nprobe=4, shortlist=32
    ).select("query_id", "vec_id", "rank")


def _topk_opq_sql(
    n_centroids: int = 16,
    m: int = 32,
    k_codes: int = 8,
    nprobe: int = 4,
    shortlist: int = 32,
    k: int = 5,
) -> str:
    """The rotated-space IVFADC replay: one rotation CTE (signed
    permutation — output coordinate i reads input coordinate
    (5·(i−1)+3) mod dim with sign (−1)^(i−1); a single ±1·x product per
    coordinate, so Spark's Arrow matmul and this list comprehension
    agree to the bit), then the shared _ivfpq_sql_body chain."""
    rot_elem = (
        "CASE WHEN (i-1) % 2 = 0 THEN 1.0 ELSE -1.0 END"
        " * CAST(embedding[((5*(i-1)+3) % len(embedding)) + 1] AS DOUBLE)"
    )
    return f"""
WITH embr AS (
  SELECT vec_id,
         [{rot_elem} for i in range(1, len(embedding)+1)] AS embedding
  FROM embeddings
), {_ivfpq_sql_body("embr", n_centroids, m, k_codes, nprobe, shortlist, k)}
"""


_STOP_EN = [
    "the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
    "with", "as", "his", "on", "be", "at", "by", "had", "not", "are",
]


def _text_stats(spark, sf):
    """Full text panel via the tokenize-once Arrow kernel (text.py's
    default engine; bit-identical to the Column compositions — the
    oracle covers both)."""
    from gecko_spark.operators.text import text_stats

    docs = load_table(spark, sf, "documents")
    st = text_stats(docs)
    return st.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_token_len", 6).alias("mean_token_len"),
        F.round("alpha_ratio", 6).alias("alpha_ratio"),
        F.round("upper_ratio", 6).alias("upper_ratio"),
        F.round("quality", 6).alias("quality"),
        "lang_pred",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
    )


_ALL_STOP = sorted(
    {
        w
        for ws in [
            _STOP_EN,
            ["der", "die", "das", "und", "ist", "nicht", "von", "mit", "dem",
             "ein", "eine", "zu", "den", "im", "für", "auf", "des", "sich", "ich"],
            ["le", "la", "les", "de", "et", "est", "dans", "que", "pour", "une",
             "un", "du", "des", "il", "au", "avec", "sur", "ne", "pas", "ce"],
            ["el", "la", "los", "las", "de", "y", "es", "en", "que", "por",
             "un", "una", "del", "con", "para", "se", "no", "su", "al", "como"],
            ["il", "la", "di", "e", "che", "in", "un", "una", "per", "è",
             "non", "con", "del", "le", "si", "da", "dei", "al", "come", "più"],
        ]
        for w in ws
    }
)

_SW = {
    "en": _STOP_EN,
    "de": ["der", "die", "das", "und", "ist", "nicht", "von", "mit", "dem",
           "ein", "eine", "zu", "den", "im", "für", "auf", "des", "sich", "ich"],
    "fr": ["le", "la", "les", "de", "et", "est", "dans", "que", "pour", "une",
           "un", "du", "des", "il", "au", "avec", "sur", "ne", "pas", "ce"],
    "es": ["el", "la", "los", "las", "de", "y", "es", "en", "que", "por",
           "un", "una", "del", "con", "para", "se", "no", "su", "al", "como"],
    "it": ["il", "la", "di", "e", "che", "in", "un", "una", "per", "è",
           "non", "con", "del", "le", "si", "da", "dei", "al", "come", "più"],
}


def _sql_list(words):
    return "[" + ", ".join("'" + w.replace("'", "''") + "'" for w in words) + "]"


_TEXT_STATS_SQL = f"""
WITH src AS (
  -- kernel null semantics: s = t or '' (adversarial gate, round 11)
  SELECT doc_id, coalesce(text, '') AS text FROM documents
), base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                     t -> length(t) > 0) AS toks,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
         CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS BIGINT) AS n_upper
  FROM src
),
feat AS (
  SELECT doc_id, text, toks, n_chars, n_alpha, n_upper,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(coalesce(list_sum(list_transform(toks, t -> length(t))), 0) AS DOUBLE)
           AS tok_len_sum,
         CAST(len(list_filter(toks, t -> list_contains({_sql_list(_ALL_STOP)}, t)))
              AS DOUBLE) AS n_stop,
         list_distinct(toks) AS dtoks
  FROM base
),
scored AS (
  SELECT doc_id, text, n_chars, n_tokens, tok_len_sum, n_alpha, n_upper, n_stop,
         CAST(len(list_intersect(dtoks, {_sql_list(_SW['en'])})) AS BIGINT) AS s_en,
         CAST(len(list_intersect(dtoks, {_sql_list(_SW['de'])})) AS BIGINT) AS s_de,
         CAST(len(list_intersect(dtoks, {_sql_list(_SW['fr'])})) AS BIGINT) AS s_fr,
         CAST(len(list_intersect(dtoks, {_sql_list(_SW['es'])})) AS BIGINT) AS s_es,
         CAST(len(list_intersect(dtoks, {_sql_list(_SW['it'])})) AS BIGINT) AS s_it,
         CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
                              t -> length(t) > 0)) AS BIGINT) AS n_ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
              AS BIGINT) AS n_bpe_tokens
  FROM feat
)
SELECT doc_id, n_chars, n_tokens,
       round(tok_len_sum / greatest(n_tokens, 1), 6) AS mean_token_len,
       round(CAST(n_alpha AS DOUBLE) / greatest(n_chars, 1), 6) AS alpha_ratio,
       round(CAST(n_upper AS DOUBLE) / greatest(n_chars, 1), 6) AS upper_ratio,
       round(least(CAST(n_chars AS DOUBLE) / 200.0, 1.0) * 0.3
             + (CAST(n_alpha AS DOUBLE) / greatest(CAST(n_chars AS DOUBLE), 1.0)) * 0.4
             + least(n_stop / greatest(CAST(n_tokens AS DOUBLE) * 0.2, 1.0), 1.0) * 0.3,
             6) AS quality,
       CASE WHEN greatest(s_en, s_de, s_fr, s_es, s_it) = 0 THEN 'und'
            WHEN s_en = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'en'
            WHEN s_de = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'de'
            WHEN s_fr = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'fr'
            WHEN s_es = greatest(s_en, s_de, s_fr, s_es, s_it) THEN 'es'
            ELSE 'it' END AS lang_pred,
       n_ws_tokens, n_bpe_tokens
FROM scored
"""


def _doc_normalize_filter(spark, sf):
    from gecko_spark.operators.text import filter_documents, normalize_text

    docs = load_table(spark, sf, "documents")
    return filter_documents(docs, min_chars=50).select(
        "doc_id",
        normalize_text(F.col("text"), strip_punct=True).alias("norm_text"),
    )


_DOC_NORMALIZE_SQL = r"""
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(lower(text), '[^\p{L}\p{N}\s_]', '', 'g'),
         '\s+', ' ', 'g')) AS norm_text
FROM documents
WHERE length(text) >= 50
"""


def _doc_fingerprints(spark, sf):
    from gecko_spark.operators.text import fingerprint, rolling_hash_fingerprint

    docs = load_table(spark, sf, "documents")
    # rolling_fp is array<bigint>; joined to a string so the driver's
    # value-hash compare sees identical scalar text on both engines
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        F.array_join(
            F.transform(
                rolling_hash_fingerprint(F.col("text")),
                lambda x: x.cast("string"),
            ),
            "_",
        ).alias("rolling_fp"),
    )


def _doc_fingerprints_sql(window: int = 8, keep: int = 4) -> str:
    """Exact DuckDB oracle for both fingerprint flavors (portable
    polynomial hashes — functions/portable_hash.py)."""
    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        sql_horner,
        sql_window_hashes,
    )

    joined = (
        r"array_to_string(list_sort(list_distinct(COALESCE("
        r"list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'), t -> len(t) > 0),"
        r" []))), ' ')"
    )
    rolling = f"list_sort(list_distinct({sql_window_hashes('lower(text)', window, P1)}))[1:{keep}]"
    return f"""
WITH base AS (
  SELECT doc_id, {joined} AS s, {rolling} AS rfp FROM documents
)
SELECT doc_id,
       CASE WHEN length(s) = 0 THEN 0
            ELSE {sql_horner('s', P1)} * {P2} + {sql_horner('s', P2)}
       END AS fp,
       COALESCE(array_to_string(rfp, '_'), '') AS rolling_fp
FROM base
"""


_TOKS_CTE = r"""toks AS (
  SELECT doc_id,
         COALESCE(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                              t -> len(t) > 0), []) AS tk
  FROM documents
)"""


def _grams_cte(n: int, distinct: bool) -> str:
    lst = (
        f"list_transform(range(1, greatest(len(tk) - {n - 1}, 0) + 1), "
        f"i -> array_to_string(tk[i:i+{n - 1}], ' '))"
    )
    if distinct:
        lst = f"list_distinct({lst})"
    return f"SELECT doc_id, unnest({lst}) AS gram FROM toks"


def _decontam_overlap(spark, sf):
    """Decontamination overlap (operators/decontam.py): distinct shared
    word 4-grams between the train split (doc_id % 10 != 0) and the
    held-out split (doc_id % 10 == 0) — inverted-index join, exact."""
    from gecko_spark.operators.decontam import ngram_overlap_pairs

    docs = load_table(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    test = docs.filter(F.col("doc_id") % 10 == 0)
    return ngram_overlap_pairs(train, test, "doc_id", "text", n=4)


_DECONTAM_OVERLAP_SQL = f"""
WITH {_TOKS_CTE},
grams AS ({_grams_cte(4, distinct=True)}),
train_g AS (SELECT doc_id AS train_id, gram FROM grams WHERE doc_id % 10 <> 0),
test_g AS (SELECT doc_id AS test_id, gram FROM grams WHERE doc_id % 10 = 0)
SELECT train_id, test_id, COUNT(*) AS n_shared
FROM train_g JOIN test_g USING (gram)
GROUP BY train_id, test_id
"""


def _decontam_filter(spark, sf):
    """Decontaminated train split: every train doc sharing ≥1 word
    4-gram with any held-out doc is dropped (left-anti join)."""
    from gecko_spark.operators.decontam import decontaminate

    docs = load_table(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    test = docs.filter(F.col("doc_id") % 10 == 0)
    return decontaminate(train, test, "doc_id", "text", n=4, min_shared=1).select(
        "doc_id"
    )


_DECONTAM_FILTER_SQL = f"""
WITH {_TOKS_CTE},
grams AS ({_grams_cte(4, distinct=True)}),
train_g AS (SELECT doc_id AS train_id, gram FROM grams WHERE doc_id % 10 <> 0),
test_g AS (SELECT doc_id AS test_id, gram FROM grams WHERE doc_id % 10 = 0)
SELECT doc_id FROM documents d
WHERE doc_id % 10 <> 0
  AND NOT EXISTS (SELECT 1 FROM train_g JOIN test_g USING (gram)
                  WHERE train_g.train_id = d.doc_id)
"""


def _decontam_filter_bloom(spark, sf):
    """Same decontamination contract as ``decontam_filter`` but through
    the bloom prefilter path (decontam.py: bloom bitset built
    distributedly via per-word bit_or, broadcast to prune train grams
    before the join). The bloom is a PREfilter with an exact-result
    guarantee — false positives only add candidate grams that the exact
    join then rejects — so the oracle is the identical plain-join SQL."""
    from gecko_spark.operators.decontam import decontaminate

    docs = load_table(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    test = docs.filter(F.col("doc_id") % 10 == 0)
    return decontaminate(
        train, test, "doc_id", "text", n=4, min_shared=1, bloom_bits_count=1 << 18
    ).select("doc_id")


def _dedup_transitive(spark, sf):
    """End-to-end transitive MinHash dedup
    (dedup.py::minhash_dedupe_transitive): candidate pairs → min-label
    connected components → keep the min-id survivor per cluster. A~B
    and B~C collapse to ONE survivor even when A~C never met in a
    bucket — the property the pairwise contract queries can't see."""
    from gecko_spark.operators.dedup import minhash_dedupe_transitive

    docs = load_table(spark, sf, "documents")
    return minhash_dedupe_transitive(
        docs, "doc_id", "text", threshold=0.8, num_hashes=64, bands=16, shingle_size=5
    ).select("doc_id")


def _dedup_transitive_sql(threshold: float = 0.8) -> str:
    """DuckDB oracle: replay the exact MinHash pair generation
    (_dedup_minhash_sql — bit-for-bit portable signatures), then close
    the >=threshold pair graph with a recursive CTE (min-label
    reachability) and drop every node that is not its component's
    minimum. Survivors = documents minus losers."""
    pairs_sql = _dedup_minhash_sql()
    return f"""
WITH RECURSIVE mh_pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE est_jaccard >= {threshold}
  UNION
  SELECT id_b, id_a FROM mh_pairs WHERE est_jaccard >= {threshold}
),
walk(node, comp) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.comp FROM edges e JOIN walk w ON e.dst = w.node
),
cc AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM cc WHERE node <> comp)
"""


def _text_repetition(spark, sf):
    """Gopher-style repetition profile (text.py::repetition_profile):
    token totals + most-frequent 2-/3-gram occurrence counts per doc."""
    from gecko_spark.operators.text import repetition_profile

    docs = load_table(spark, sf, "documents")
    out = repetition_profile(docs, "doc_id", "text", ns=(2, 3))
    # exact-width parity with the BIGINT-producing oracle (len() in
    # DuckDB): counts up-cast to long at the contract edge
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long")).withColumn(
        "n_distinct_tokens", F.col("n_distinct_tokens").cast("long")
    )


_TEXT_REPETITION_SQL = f"""
WITH {_TOKS_CTE},
base AS (SELECT doc_id, len(tk) AS n_tokens,
                len(list_distinct(tk)) AS n_distinct_tokens
         FROM toks),
g2 AS ({_grams_cte(2, distinct=False)}),
t2 AS (SELECT doc_id, MAX(c) AS top_2gram_n
       FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g2 GROUP BY doc_id, gram)
       GROUP BY doc_id),
g3 AS ({_grams_cte(3, distinct=False)}),
t3 AS (SELECT doc_id, MAX(c) AS top_3gram_n
       FROM (SELECT doc_id, gram, COUNT(*) AS c FROM g3 GROUP BY doc_id, gram)
       GROUP BY doc_id)
SELECT doc_id, n_tokens, n_distinct_tokens,
       COALESCE(top_2gram_n, 0) AS top_2gram_n,
       COALESCE(top_3gram_n, 0) AS top_3gram_n
FROM base LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
"""


def _text_pii_redact(spark, sf):
    """PII redaction (text.py::redact_pii): mask + count emails / IPv4
    / phone spans, pure JVM regexp algebra. The corpus has no natural
    PII, so the query plants a deterministic email+IP+phone per doc
    (derived from doc_id) before redacting — the patterns are
    exercised on every row and the oracle rebuilds the same input."""
    from gecko_spark.operators.text import redact_pii

    docs = load_table(spark, sf, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" reach user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.org at 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 or +1 555-012-3456"),
        ).alias("text"),
    )
    out = redact_pii(planted, "text")
    # exact-width parity with the BIGINT-producing oracle (len() in
    # DuckDB): Spark size() is int32
    return out.select(
        "doc_id",
        "text_redacted",
        *[F.col(c).cast("long").alias(c) for c in ("n_email", "n_ipv4", "n_phone")],
    )


def _pii_sql() -> str:
    from gecko_spark.operators.text import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    planted = (
        "COALESCE(text, '') || ' reach user' || CAST(doc_id AS VARCHAR) || "
        "'@example.org at 192.168.' || CAST(doc_id % 256 AS VARCHAR) || "
        "'.7 or +1 555-012-3456'"
    )
    # redaction applies the patterns in PII_PATTERNS order; counts are
    # measured on the pre-redaction text (same contract as redact_pii)
    red = planted
    for kind, pat in PII_PATTERNS:
        esc = pat.replace("'", "''")
        red = f"regexp_replace({red}, '{esc}', '<{kind}>', 'g')"
    counts = ", ".join(
        f"len(regexp_extract_all({planted}, '{pats[k].replace(chr(39), chr(39)*2)}')) "
        f"AS n_{k}"
        for k in ("email", "ipv4", "phone")
    )
    return f"""
SELECT doc_id, {red} AS text_redacted, {counts}
FROM documents
"""


def _text_tfidf(spark, sf):
    """Per-document top-3 TF-IDF terms (text.py::tfidf_top_terms):
    explode → (doc,term) count → doc-frequency over the reduced index
    → 1-row-broadcast corpus size → rank window. Rank orders by the
    ROUNDED score so the ordering is engine-portable (see docstring).

    Oracle-parity note: the DuckDB oracle (_TOKS_CTE) tokenizes with the
    same Unicode class ``[^\\p{L}\\p{N}_]+`` as Spark's ``tokens()`` —
    RE2 \\p{L}\\p{N} was verified char-by-char equal to Java/Python
    word classes, so parity holds on non-ASCII corpora too (the old
    ASCII-class oracle failed the round-11 adversarial fixture gate on
    CJK documents)."""
    from gecko_spark.operators.text import tfidf_top_terms

    docs = load_table(spark, sf, "documents")
    out = tfidf_top_terms(docs, "doc_id", "text", k=3)
    return out.select(
        "doc_id",
        "term",
        "tf",
        "df",
        "tfidf",
        F.col("rank").cast("long").alias("rank"),
    )


_TFIDF_SQL = f"""
WITH {_TOKS_CTE},
terms AS (SELECT doc_id, unnest(tk) AS term FROM toks),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, tf, df,
         round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
  FROM tf JOIN dfq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rank FROM ranked WHERE rank <= 3
"""


def _emb_quantize(spark, sf):
    """Symmetric per-vector int8 quantization
    (similarity.py::quantize_int8), exploded to scalar rows at the
    contract edge (arrays don't hash portably across pandas reprs).
    Explicit floor(x+0.5) half-up keeps the quantized values bit-equal
    across engines."""
    from gecko_spark.operators.similarity import quantize_int8

    emb = load_table(spark, sf, "embeddings")
    q = quantize_int8(emb.select("vec_id", "embedding"))
    return q.select(
        "vec_id",
        F.posexplode("embedding_q8").alias("pos", "q"),
        F.col("embedding_scale").alias("scale"),
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("q").cast("long").alias("q"),
        "scale",
    )


_EMB_QUANTIZE_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
m AS (
  SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) AS maxabs FROM v
)
SELECT vec_id,
       unnest(range(len(e))) AS pos,
       unnest(CASE WHEN maxabs = 0
                   THEN list_transform(e, x -> CAST(0 AS BIGINT))
                   ELSE list_transform(e, x -> CAST(floor(x / maxabs * 127 + 0.5) AS BIGINT))
              END) AS q,
       CASE WHEN maxabs = 0 THEN 0.0 ELSE maxabs / 127.0 END AS scale
FROM m
"""


def _sketch_cm_counts(spark, sf):
    """Count-min sketch table (sketches.py::cm_sketch) over order
    priorities: every (row, bucket) counter — deterministic portable
    bucketing, so the oracle rebuilds the identical sketch."""
    from gecko_spark.operators.sketches import cm_sketch

    o = load_table(spark, sf, "orders")
    return cm_sketch(o, "o_orderpriority", depth=4, width=64).select(
        F.col("row").alias("hash_row"), "bucket", "cnt"
    )


def _cm_sql_parts(depth: int = 4, width: int = 64):
    from gecko_spark.functions.portable_hash import P1, sql_horner
    from gecko_spark.operators.sketches import cm_params

    params = cm_params(depth)
    rows = ", ".join(f"({j}, {a}, {b})" for j, (a, b) in enumerate(params))
    return P1, sql_horner("o_orderpriority", P1), rows, width


def _sketch_cm_counts_sql() -> str:
    p1, horner, rows, w = _cm_sql_parts()
    return f"""
WITH params(j, a, b) AS (VALUES {rows}),
h AS (SELECT {horner} AS hv FROM orders),
bk AS (SELECT j, CAST((hv * a + b) % {p1} % {w} AS INTEGER) AS bucket
       FROM h CROSS JOIN params)
SELECT j AS hash_row, bucket, COUNT(*) AS cnt
FROM bk GROUP BY j, bucket
"""


def _sketch_cm_estimate(spark, sf):
    """Point-frequency estimates from the CM sketch for the five
    priority values plus one absent probe (estimate 0): min over hash
    rows, never an undercount."""
    from gecko_spark.operators.sketches import cm_estimate, cm_sketch

    o = load_table(spark, sf, "orders")
    sk = cm_sketch(o, "o_orderpriority", depth=4, width=64)
    vals = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW", "9-ABSENT"]
    return cm_estimate(sk, vals, depth=4, width=64)


def _sketch_cm_estimate_sql() -> str:
    p1, horner, rows, w = _cm_sql_parts()
    from gecko_spark.functions.portable_hash import sql_horner

    probe_horner = sql_horner("v", p1)
    return f"""
WITH params(j, a, b) AS (VALUES {rows}),
h AS (SELECT {horner} AS hv FROM orders),
bk AS (SELECT j, CAST((hv * a + b) % {p1} % {w} AS INTEGER) AS bucket
       FROM h CROSS JOIN params),
sketch AS (SELECT j, bucket, COUNT(*) AS cnt FROM bk GROUP BY j, bucket),
probes AS (
  SELECT v AS value, j,
         CAST((({probe_horner}) * a + b) % {p1} % {w} AS INTEGER) AS bucket
  FROM (VALUES ('1-URGENT'), ('2-HIGH'), ('3-MEDIUM'), ('4-NOT SPECIFIED'),
               ('5-LOW'), ('9-ABSENT')) t(v)
  CROSS JOIN params
)
SELECT value, MIN(COALESCE(cnt, 0)) AS estimate
FROM probes LEFT JOIN sketch USING (j, bucket)
GROUP BY value
"""


def _pack_sequences(spark, sf):
    """Sequence packing (operators/packing.py): documents → (shard,
    pack) token-budget bins, 8 shards × 512-token budget, plus the
    per-pack manifest totals. Exact integer window arithmetic — the
    oracle replays the identical assignment."""
    from gecko_spark.operators.packing import pack_manifest, pack_sequences
    from gecko_spark.operators.text import word_token_count

    docs = load_table(spark, sf, "documents").select(
        "doc_id", word_token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(
        docs,
        "doc_id",
        "n_tokens",
        budget=512,
        n_shards=8,
        # portable shard (doc_id % 8) so DuckDB replays the assignment;
        # the default is xxhash64, which no other engine reproduces
        shard_col=F.pmod(F.col("doc_id"), F.lit(8)).cast("int"),
    )
    return pack_manifest(packed).orderBy("shard", "pack")


_PACK_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         CAST(len(COALESCE(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                                       t -> len(t) > 0), [])) AS INTEGER) AS n_tokens,
         CAST(doc_id % 8 AS INTEGER) AS shard
  FROM documents
), packed AS (
  SELECT shard,
         CAST((SUM(CAST(n_tokens AS BIGINT)) OVER w - n_tokens) // 512 AS INTEGER)
           AS pack,
         n_tokens
  FROM toked
  WINDOW w AS (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT shard, pack, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS n_tokens_total
FROM packed GROUP BY shard, pack
"""


def _sketch_kmv_by_group(spark, sf):
    """Per-group KMV distinct estimates (sketches.py::kmv_group_estimate):
    distinct parts per return flag, k=128 — every per-group ESTIMATE
    bit-matches the oracle thanks to the portable hash."""
    from gecko_spark.operators.sketches import kmv_group_estimate

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", F.col("l_partkey").cast("string").alias("v")
    )
    return kmv_group_estimate(li, "l_returnflag", "v", k=128)


def _sketch_kmv_by_group_sql(k: int = 128) -> str:
    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        sql_horner,
        sql_mix64_ctes,
    )
    from gecko_spark.operators.sketches import _A1, _A2, _B1, _B2, _M

    h1 = f"(({sql_horner('v', P1)}) * {_A1} + {_B1}) % {P1}"
    h2 = f"(({sql_horner('v', P2)}) * {_A2} + {_B2}) % {P2}"
    return f"""
WITH vals AS (
  SELECT DISTINCT l_returnflag, CAST(l_partkey AS VARCHAR) AS v FROM lineitem
), hashes AS (
  SELECT l_returnflag, ({h1}) * {P2} + ({h2}) AS h0 FROM vals
),{sql_mix64_ctes('hashes', 'h0', 'z')},
mixed AS (
  SELECT l_returnflag, CAST(z >> 2 AS BIGINT) AS h FROM __mix6
), ranked AS (
  SELECT l_returnflag, h,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
  FROM mixed
), topk AS (SELECT l_returnflag, h FROM ranked WHERE rn <= {k})
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_seen,
       CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE {float(k - 1)!r} * CAST({_M} AS DOUBLE) / CAST(MAX(h) AS DOUBLE)
       END AS estimate
FROM topk GROUP BY l_returnflag
"""


def _sketch_hll(spark, sf):
    """HyperLogLog distinct count (sketches.py::hll_estimate, Flajolet
    et al. 2007), m=256 registers over lineitem part keys. Cross-engine
    HLL parity is normally impossible (engine-private hashes, float
    register sums); here the bucket/rank split rides the portable
    polynomial hash through a splitmix64 avalanche (exact in DuckDB via
    32-bit half-products, portable_hash.py::sql_mix64_ctes) and the
    register sum Σ2^-M_j is carried as the integer Σ2^(Q-M_j) — so
    n_zero, the packed sum, and the raw estimate hash-match exactly.
    The libm-dependent linear-counting correction is excluded here and
    error-bounded in tests instead."""
    from gecko_spark.operators.sketches import hll_estimate

    li = load_table(spark, sf, "lineitem").select(
        F.col("l_partkey").cast("string").alias("v")
    )
    return hll_estimate(li, "v", m=256).select("n_zero", "s_int", "estimate_raw")


def _hll_sql_parts(m: int):
    """(p, q, factor, packed-hash SQL, bitlen SQL) shared by the two
    HLL oracles."""
    from gecko_spark.functions.portable_hash import P1, P2, sql_horner
    from gecko_spark.operators.sketches import (
        _A1,
        _A2,
        _B1,
        _B2,
        _hll_geometry,
        sql_hll_bitlen,
    )

    p, q, factor = _hll_geometry(m)
    h1 = f"(({sql_horner('v', P1)}) * {_A1} + {_B1}) % {P1}"
    h2 = f"(({sql_horner('v', P2)}) * {_A2} + {_B2}) % {P2}"
    packed = f"({h1}) * {P2} + ({h2})"
    return p, q, factor, packed, sql_hll_bitlen("r", q - 1)


def _sketch_hll_sql(m: int = 256) -> str:
    from gecko_spark.functions.portable_hash import sql_mix64_ctes

    p, q, factor, packed, bitlen = _hll_sql_parts(m)
    return f"""
WITH vals AS (
  SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS v FROM lineitem
), hashes AS (
  SELECT {packed} AS h FROM vals
),{sql_mix64_ctes('hashes', 'h', 'z')},
quot AS (
  SELECT CAST(z % {m} AS BIGINT) AS reg,
         CAST((z >> {p}) % {1 << (q - 1)} AS BIGINT) AS r
  FROM __mix6
), regs AS (
  SELECT reg, MAX({q} - {bitlen}) AS rho FROM quot GROUP BY reg
), agg AS (
  SELECT COUNT(*) AS nz,
         SUM(CAST(1 AS BIGINT) << ({q} - rho)) AS s_nz
  FROM regs
)
SELECT CAST({m} - nz AS BIGINT) AS n_zero,
       CAST(s_nz + ({m} - nz) * (CAST(1 AS BIGINT) << {q}) AS BIGINT) AS s_int,
       {factor!r} / CAST(s_nz + ({m} - nz) * (CAST(1 AS BIGINT) << {q}) AS DOUBLE)
         AS estimate_raw
FROM agg
"""


def _sketch_hll_by_group(spark, sf):
    """Per-group HLL (sketches.py::hll_group_estimate): distinct parts
    per return flag at m=64 — the fixed-memory per-group
    COUNT(DISTINCT) whose shuffle is (groups × m) rows regardless of
    data size. Deterministic columns only (see _sketch_hll)."""
    from gecko_spark.operators.sketches import hll_group_estimate

    li = load_table(spark, sf, "lineitem").select(
        "l_returnflag", F.col("l_partkey").cast("string").alias("v")
    )
    return hll_group_estimate(li, "l_returnflag", "v", m=64).select(
        "l_returnflag", "n_zero", "s_int", "estimate_raw"
    )


def _sketch_hll_by_group_sql(m: int = 64) -> str:
    from gecko_spark.functions.portable_hash import sql_mix64_ctes

    p, q, factor, packed, bitlen = _hll_sql_parts(m)
    return f"""
WITH vals AS (
  SELECT DISTINCT l_returnflag, CAST(l_partkey AS VARCHAR) AS v FROM lineitem
), hashes AS (
  SELECT l_returnflag, {packed} AS h FROM vals
),{sql_mix64_ctes('hashes', 'h', 'z')},
quot AS (
  SELECT l_returnflag, CAST(z % {m} AS BIGINT) AS reg,
         CAST((z >> {p}) % {1 << (q - 1)} AS BIGINT) AS r
  FROM __mix6
), regs AS (
  SELECT l_returnflag, reg, MAX({q} - {bitlen}) AS rho
  FROM quot GROUP BY l_returnflag, reg
), agg AS (
  SELECT l_returnflag, COUNT(*) AS nz,
         SUM(CAST(1 AS BIGINT) << ({q} - rho)) AS s_nz
  FROM regs GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST({m} - nz AS BIGINT) AS n_zero,
       CAST(s_nz + ({m} - nz) * (CAST(1 AS BIGINT) << {q}) AS BIGINT) AS s_int,
       {factor!r} / CAST(s_nz + ({m} - nz) * (CAST(1 AS BIGINT) << {q}) AS DOUBLE)
         AS estimate_raw
FROM agg
"""


def _layout_zorder(spark, sf):
    """Z-order (Morton) clustering key (operators/layout.py): the
    multi-column min/max file-skipping layout — interleave 16-bit
    min-max-scaled (user_id, event-time-µs) so a filter on EITHER
    column prunes ~sqrt of the chunks (locality asserted in
    tests/test_layout.py; a b-only filter touched 4/16 z-ordered
    partitions vs 16/16 single-column-sorted). Key construction is
    pure integer Column algebra (divide-first DIV scaling — immune to
    the span overflow one corrupt timestamp caused in the adversarial
    gate — and shift/mask interleave), so the oracle replays every
    bit."""
    from gecko_spark.operators.layout import minmax_scale_int, zorder_key

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("tus")
    )
    scaled = minmax_scale_int(ev, ["user_id", "tus"], bits=16)
    return scaled.select(
        "event_id", zorder_key(["__z0__", "__z1__"], bits=16).alias("zkey")
    )


def _layout_zorder_sql(bits: int = 16) -> str:
    scale = 1 << bits
    terms = []
    for b in range(bits):
        terms.append(f"((z0 // {1 << b}) % 2) * {1 << (2 * b)}")
        terms.append(f"((z1 // {1 << b}) % 2) * {1 << (2 * b + 1)}")
    interleave = " + ".join(terms)
    return f"""
WITH src AS (
  SELECT event_id, user_id, epoch_us(ts) AS tus FROM events
), mm AS (
  SELECT MIN(user_id) AS lo0, MAX(user_id) AS hi0,
         MIN(tus) AS lo1, MAX(tus) AS hi1
  FROM src
), scaled AS (
  SELECT event_id,
         (user_id - lo0) // ((hi0 - lo0) // {scale} + 1) AS z0,
         (tus - lo1) // ((hi1 - lo1) // {scale} + 1) AS z1
  FROM src, mm
)
SELECT event_id, CAST({interleave} AS BIGINT) AS zkey FROM scaled
"""


# Whitespace normalization shared by the BPE-train contract: Python's
# str.split() splits on Unicode whitespace (incl. \x1c-\x1f, NBSP, the
# U+2000 block) while RE2's \s is ASCII-only — mapping the exotic ones
# to ' ' on BOTH engines makes the two tokenizations provably equal.
# \x{..} escape syntax parses identically in Java regex and RE2.
_BPE_WS_CLASS = (
    "[\\x{00}-\\x{1f}\\x{7f}\\x{85}\\x{a0}\\x{1680}\\x{2000}-\\x{200a}"
    "\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]"
)


def _text_bpe_train(spark, sf):
    """BPE merge TRAINING, oracle-replayed (text.py::bpe_train,
    Sennrich et al. 2016): like round 10's trained-classifier entry,
    the green row certifies the full training loop — word histogram,
    per-iteration pair counts, (count, pair)-max tie-break, ≥2-count
    stop rule, and left-to-right non-overlapping merge application —
    not just the serving path (text_bpe_tokens covers that). The
    DuckDB side replays 8 unrolled merge iterations over
    chr(31)/chr(30)-bracketed symbol strings, where plain string
    replace() reproduces BPE's within-word merge scan exactly.
    sample_rows=None trains on the identical full corpus in both
    engines (no sampling pass — the engine-private xxhash64 ordering
    never runs, so nothing unportable touches the result)."""
    from gecko_spark.operators.text import bpe_train

    docs = load_table(spark, sf, "documents").select(
        F.regexp_replace(
            F.coalesce(F.col("text"), F.lit("")), _BPE_WS_CLASS, " "
        ).alias("text")
    )
    merges = bpe_train(docs, "text", n_merges=8, sample_rows=None)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


def _text_bpe_train_sql(n_merges: int = 8) -> str:
    tok = "\\x{1f}([^\\x{1e}]*)\\x{1e}"
    parts = [f"""
WITH sanitized AS MATERIALIZED (
  SELECT regexp_replace(coalesce(text, ''), '{_BPE_WS_CLASS}', ' ', 'g') AS t
  FROM documents
), words AS MATERIALIZED (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT UNNEST(regexp_split_to_array(t, '\\s+')) AS w FROM sanitized
  ) WHERE w <> '' GROUP BY w
), vocab_0 AS MATERIALIZED (
  SELECT chr(31) || array_to_string(regexp_extract_all(w, '.'), chr(30) || chr(31))
         || '</w>' || chr(30) AS w,
         cnt
  FROM words
)"""]
    for i in range(n_merges):
        parts.append(f""",
toks_{i} AS MATERIALIZED (
  SELECT w, cnt, regexp_extract_all(w, '{tok}', 1) AS toks FROM vocab_{i}
),
pairs_{i} AS MATERIALIZED (
  SELECT toks[CAST(j AS BIGINT)] AS a, toks[CAST(j AS BIGINT) + 1] AS b,
         SUM(cnt) AS s
  FROM toks_{i}, UNNEST(range(1, len(toks))) AS u(j)
  GROUP BY 1, 2
),
best_{i} AS MATERIALIZED (
  SELECT a, b, s FROM pairs_{i} ORDER BY s DESC, a DESC, b DESC LIMIT 1
),
vocab_{i + 1} AS MATERIALIZED (
  SELECT CASE WHEN coalesce((SELECT s FROM best_{i}), 0) >= 2
              THEN replace(w,
                chr(31) || (SELECT a FROM best_{i}) || chr(30) ||
                chr(31) || (SELECT b FROM best_{i}) || chr(30),
                chr(31) || (SELECT a FROM best_{i}) ||
                (SELECT b FROM best_{i}) || chr(30))
              ELSE w END AS w,
         cnt
  FROM vocab_{i}
)""")
    selects = [
        f"SELECT CAST({i} AS INTEGER) AS rank, a AS left, b AS right "
        f"FROM best_{i} WHERE s >= 2"
        for i in range(n_merges)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def _text_unicode_normalize(spark, sf):
    """Unicode NFC normalization + accent stripping (text.py::
    normalize_unicode / strip_accents) — the canonical pre-dedup text
    step ('e\u0301' decomposed vs 'é' composed hash differently
    through every fingerprint here). The ASCII corpus is planted with
    deterministic diacritic suffixes (decomposed combining marks /
    precomposed / compatibility chars) so every code path varies by
    row; the oracle replays via DuckDB's nfc_normalize / strip_accents
    (utf8proc), verified char-equal to Python unicodedata on the case
    table in tests/test_text_extras.py."""
    from gecko_spark.operators.text import normalize_unicode, strip_accents

    docs = load_table(spark, sf, "documents")
    # strip NUL bytes first, BOTH sides: DuckDB's nfc_normalize is a
    # utf8proc C-string call that TRUNCATES at the first NUL (found by
    # the adversarial fixture's embedded-NUL doc), so the contract pins
    # NFC behavior on everything an oracle CAN represent
    planted = docs.withColumn(
        "text",
        F.concat(
            F.regexp_replace(F.col("text"), "\x00", ""),
            F.when(F.col("doc_id") % 4 == 0, F.lit(_UNICODE_PLANT[0]))
            .when(F.col("doc_id") % 4 == 1, F.lit(_UNICODE_PLANT[1]))
            .when(F.col("doc_id") % 4 == 2, F.lit(_UNICODE_PLANT[2]))
            .otherwise(F.lit("")),
        ),
    )
    nfc = normalize_unicode(F.col("text"), "NFC")
    return planted.select(
        "doc_id",
        nfc.alias("nfc"),
        strip_accents(nfc).alias("stripped"),
        (nfc != F.col("text")).alias("changed"),
    )


# one source of truth for the planted suffixes: 0 = DECOMPOSED
# combining marks (NFC recomposes them), 1 = precomposed (NFC no-op,
# strip_accents changes), 2 = compatibility chars (ligature/fullwidth:
# untouched by both NFC and strip_accents). Escapes, not literals, so
# no editor/tool can silently renormalize the source file.
_UNICODE_PLANT = (
    " cafe\u0301 entre\u0301e de\u0301ja\u0300",
    " caf\u00e9 d\u00e9j\u00e0 vu",
    " \ufb01ne \uff46\uff55\uff4c\uff4c",
)

_TEXT_UNICODE_NORMALIZE_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         replace(text, chr(0), '') || CASE
           WHEN doc_id % 4 = 0 THEN '{_UNICODE_PLANT[0]}'
           WHEN doc_id % 4 = 1 THEN '{_UNICODE_PLANT[1]}'
           WHEN doc_id % 4 = 2 THEN '{_UNICODE_PLANT[2]}'
           ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       nfc_normalize(text) AS nfc,
       strip_accents(nfc_normalize(text)) AS stripped,
       (nfc_normalize(text) <> text) AS changed
FROM planted
"""


# ---------------------------------------------------------------------------
# the contract
# ---------------------------------------------------------------------------


def _text_line_dedupe(spark, sf):
    """Corpus-level duplicate-line removal (text.py::line_dedupe, the
    C4/RefinedWeb pipeline stage): drop every segment occurring in >50
    distinct documents, reassemble survivors in order. The test corpus
    has no newlines, so the contract query splits on ' ' — the same
    explode → count-distinct → anti-join → ordered-reassembly plan,
    exercised as common-token removal. Real multi-line semantics are
    unit-tested (tests/test_text_extras.py)."""
    from gecko_spark.operators.text import line_dedupe

    docs = load_table(spark, sf, "documents")
    return line_dedupe(docs, "doc_id", "text", delimiter=" ", max_docs=50)


_LINE_DEDUPE_SQL = """
WITH segs AS (
  SELECT doc_id,
         UNNEST(string_split(COALESCE(text, ''), ' ')) AS line,
         UNNEST(range(len(string_split(COALESCE(text, ''), ' ')))) AS pos
  FROM documents
),
dup AS (
  SELECT line FROM segs GROUP BY line HAVING COUNT(DISTINCT doc_id) > 50
),
kept AS (
  SELECT s.doc_id, s.line, s.pos FROM segs s ANTI JOIN dup d USING (line)
),
rebuilt AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY pos) AS text,
         COUNT(*) AS kept
  FROM kept GROUP BY doc_id
),
orig AS (
  SELECT doc_id, len(string_split(COALESCE(text, ''), ' ')) AS n
  FROM documents
)
SELECT o.doc_id, COALESCE(r.text, '') AS text,
       CAST(o.n - COALESCE(r.kept, 0) AS BIGINT) AS lines_removed
FROM orig o LEFT JOIN rebuilt r USING (doc_id)
"""


def _text_gopher_quality(spark, sf):
    """Gopher quality rules (text.py::gopher_quality_flags, Rae et al.
    2021 §A1.1.1) — per-rule booleans + conjunction. The corpus is
    plain single-line text, so the query PLANTS deterministic rule
    triggers per doc_id (10 bullet lines / an ellipsis-ended line / a
    run of # symbols) before the gate — every rule column varies by
    row and the oracle rebuilds the identical planted input. Pure
    higher-order-function Column algebra, zero Python; the SQL replays
    the same word/line splits and double ratios."""
    from gecko_spark.operators.text import gopher_quality_flags

    docs = load_table(spark, sf, "documents")
    bullets = "\n".join("* bullet item here" for _ in range(10))
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0, F.lit("\n" + bullets))
            .when(F.col("doc_id") % 7 == 1, F.lit("\ntrailing thought..."))
            .when(F.col("doc_id") % 7 == 2, F.lit(" " + "# " * 30))
            .when(
                F.col("doc_id") % 7 > 4,
                F.lit(" the story of the people that have come to be with"),
            )
            .otherwise(F.lit("")),
        ),
    )
    return gopher_quality_flags(planted, "doc_id", "text", min_words=20)


_TEXT_GOPHER_QUALITY_SQL = r"""
WITH planted AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 7 = 0 THEN chr(10) ||
             repeat('* bullet item here' || chr(10), 9) || '* bullet item here'
           WHEN doc_id % 7 = 1 THEN chr(10) || 'trailing thought...'
           WHEN doc_id % 7 = 2 THEN ' ' || repeat('# ', 30)
           WHEN doc_id % 7 > 4 THEN
             ' the story of the people that have come to be with'
           ELSE '' END AS text
  FROM documents
),
coalesced AS (
  -- Spark plants via F.concat (null-propagating), then the kernel
  -- coalesces: a NULL-text doc is '' WITHOUT the planted suffix
  SELECT doc_id, coalesce(text, '') AS text FROM planted
),
base AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(text, '\s+'), w -> len(w) > 0) AS words,
    list_filter(string_split_regex(text, '\n'),
                l -> len(trim(l)) > 0) AS lines,
    COALESCE(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                         t -> len(t) > 0), []) AS tk
  FROM coalesced
),
m AS (
  SELECT doc_id,
    len(words) AS n_words,
    CAST(COALESCE(list_sum(list_transform(words, w -> len(w))), 0) AS DOUBLE)
      / GREATEST(CAST(len(words) AS DOUBLE), 1.0) AS mean_len,
    (len(string_split_regex(text, '#')) - 1
     + len(string_split_regex(text, '\.\.\.')) - 1
     + len(string_split_regex(text, CHR(8230))) - 1) AS n_sym,
    GREATEST(CAST(len(lines) AS DOUBLE), 1.0) AS n_lines,
    CAST(len(list_filter(lines,
         l -> regexp_matches(trim(l), '^([*' || CHR(8226) || CHR(8227) ||
                             CHR(9642) || '-]\s)'))) AS DOUBLE) AS bullet_lines,
    CAST(len(list_filter(lines,
         l -> regexp_matches(rtrim(l), '(\.\.\.|' || CHR(8230) || ')$')))
         AS DOUBLE) AS ellipsis_lines,
    CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
         AS DOUBLE) AS alpha_words,
    (CAST(list_contains(tk, 'the') AS INT) + CAST(list_contains(tk, 'be') AS INT)
     + CAST(list_contains(tk, 'to') AS INT) + CAST(list_contains(tk, 'of') AS INT)
     + CAST(list_contains(tk, 'and') AS INT)
     + CAST(list_contains(tk, 'that') AS INT)
     + CAST(list_contains(tk, 'have') AS INT)
     + CAST(list_contains(tk, 'with') AS INT)) AS stop_hits
  FROM base
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
  (n_words >= 20 AND n_words <= 100000) AS rule_word_count,
  (mean_len >= 3.0 AND mean_len <= 10.0) AS rule_mean_word_length,
  (CAST(n_sym AS DOUBLE) / GREATEST(CAST(n_words AS DOUBLE), 1.0) <= 0.1)
    AS rule_symbol_ratio,
  (bullet_lines / n_lines <= 0.9) AS rule_bullet_lines,
  (ellipsis_lines / n_lines <= 0.3) AS rule_ellipsis_lines,
  (alpha_words / GREATEST(CAST(n_words AS DOUBLE), 1.0) >= 0.8)
    AS rule_alpha_words,
  (stop_hits >= 2) AS rule_stopwords,
  ((n_words >= 20 AND n_words <= 100000)
   AND (mean_len >= 3.0 AND mean_len <= 10.0)
   AND (CAST(n_sym AS DOUBLE) / GREATEST(CAST(n_words AS DOUBLE), 1.0) <= 0.1)
   AND (bullet_lines / n_lines <= 0.9)
   AND (ellipsis_lines / n_lines <= 0.3)
   AND (alpha_words / GREATEST(CAST(n_words AS DOUBLE), 1.0) >= 0.8)
   AND (stop_hits >= 2)) AS passes
FROM m
"""


def _text_gopher_repetition(spark, sf):
    """Gopher repetition rules (text.py::gopher_repetition_flags, Rae
    et al. 2021 §A1.1.2): duplicate line/paragraph (count and char)
    fractions, top 2/3/4-gram char fraction, duplicated 5–10-gram char
    fraction. The corpus is single-line text, so the query PLANTS
    per-doc_id triggers — repeated lines, duplicated paragraphs, a
    dominant 2-gram run, a repeated 7-gram — and the oracle rebuilds
    the identical input and replays every formula (per-unit counts via
    unnest+GROUP BY; deterministic top-gram tie-break ORDER BY cnt
    DESC, gram ASC). Engine side is ONE stateless Arrow kernel — zero
    shuffles at any corpus size."""
    from gecko_spark.operators.text import gopher_repetition_flags

    docs = load_table(spark, sf, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nrepeat me line\nrepeat me line\nrepeat me line"),
            )
            .when(
                F.col("doc_id") % 5 == 1,
                F.lit("\n\ndup para block here\n\ndup para block here"),
            )
            .when(F.col("doc_id") % 5 == 2, F.lit(" " + "badger " * 7))
            .when(
                F.col("doc_id") % 5 == 3,
                F.lit(" one two three four five six seven" * 2),
            )
            .otherwise(F.lit("")),
        ),
    )
    return gopher_repetition_flags(planted, "doc_id", "text")


def _gopher_rep_sql() -> str:
    gram_ctes, dup_sel, top_sel = [], [], []
    for n in range(2, 11):
        gram_ctes.append(
            f"g{n} AS (SELECT doc_id, unnest(list_transform("
            f"range(1, greatest(len(w) - {n - 1}, 0) + 1), "
            f"i -> array_to_string(w[i:i+{n - 1}], ' '))) AS gram FROM words),\n"
            f"g{n}c AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM g{n} "
            f"GROUP BY doc_id, gram)"
        )
    for n in (2, 3, 4):
        top_sel.append(
            f"t{n} AS (SELECT doc_id, cnt * len(gram) AS mass FROM ("
            f"SELECT doc_id, gram, cnt, ROW_NUMBER() OVER (PARTITION BY doc_id "
            f"ORDER BY cnt DESC, gram ASC) AS rn FROM g{n}c) WHERE rn = 1 "
            f"AND cnt >= 2)"
        )
    for n in range(5, 11):
        dup_sel.append(
            f"d{n} AS (SELECT doc_id, SUM((cnt - 1) * len(gram)) AS mass "
            f"FROM g{n}c WHERE cnt > 1 GROUP BY doc_id)"
        )
    units = """
lines AS (SELECT doc_id, unnest(list_filter(list_transform(
  string_split(text, chr(10)), l -> trim(l)), l -> len(l) > 0)) AS u
  FROM planted),
linec AS (SELECT doc_id, u, COUNT(*) AS cnt FROM lines GROUP BY doc_id, u),
linem AS (SELECT doc_id, SUM(cnt) AS n_units, COUNT(*) AS n_distinct,
  SUM(CASE WHEN cnt > 1 THEN (cnt - 1) * len(u) ELSE 0 END) AS dup_mass
  FROM linec GROUP BY doc_id),
paras AS (SELECT doc_id, unnest(list_filter(list_transform(
  string_split(text, chr(10) || chr(10)), l -> trim(l)), l -> len(l) > 0)) AS u
  FROM planted),
parac AS (SELECT doc_id, u, COUNT(*) AS cnt FROM paras GROUP BY doc_id, u),
param AS (SELECT doc_id, SUM(cnt) AS n_units, COUNT(*) AS n_distinct,
  SUM(CASE WHEN cnt > 1 THEN (cnt - 1) * len(u) ELSE 0 END) AS dup_mass
  FROM parac GROUP BY doc_id)"""
    metrics = """
SELECT p.doc_id,
  CAST(COALESCE(lm.n_units - lm.n_distinct, 0) AS DOUBLE)
    / GREATEST(CAST(COALESCE(lm.n_units, 0) AS DOUBLE), 1.0) AS dup_line_frac,
  CAST(COALESCE(lm.dup_mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS dup_line_char_frac,
  CAST(COALESCE(pm.n_units - pm.n_distinct, 0) AS DOUBLE)
    / GREATEST(CAST(COALESCE(pm.n_units, 0) AS DOUBLE), 1.0) AS dup_para_frac,
  CAST(COALESCE(pm.dup_mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS dup_para_char_frac,
  CAST(COALESCE(t2.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS top_2gram_char_frac,
  CAST(COALESCE(t3.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS top_3gram_char_frac,
  CAST(COALESCE(t4.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS top_4gram_char_frac,
  CAST(COALESCE(d5.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS dup_5gram_char_frac,
  CAST(COALESCE(d6.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS dup_6gram_char_frac,
  CAST(COALESCE(d7.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS dup_7gram_char_frac,
  CAST(COALESCE(d8.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS dup_8gram_char_frac,
  CAST(COALESCE(d9.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS dup_9gram_char_frac,
  CAST(COALESCE(d10.mass, 0) AS DOUBLE) / GREATEST(len(p.text), 1)
    AS dup_10gram_char_frac
FROM planted p
LEFT JOIN linem lm USING (doc_id) LEFT JOIN param pm USING (doc_id)
LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
LEFT JOIN d6 USING (doc_id) LEFT JOIN d7 USING (doc_id)
LEFT JOIN d8 USING (doc_id) LEFT JOIN d9 USING (doc_id)
LEFT JOIN d10 USING (doc_id)"""
    rules = {
        "rule_dup_line": ("dup_line_frac", 0.30),
        "rule_dup_para": ("dup_para_frac", 0.30),
        "rule_dup_line_char": ("dup_line_char_frac", 0.20),
        "rule_dup_para_char": ("dup_para_char_frac", 0.20),
        "rule_top_2gram": ("top_2gram_char_frac", 0.20),
        "rule_top_3gram": ("top_3gram_char_frac", 0.18),
        "rule_top_4gram": ("top_4gram_char_frac", 0.16),
        "rule_dup_5gram": ("dup_5gram_char_frac", 0.15),
        "rule_dup_6gram": ("dup_6gram_char_frac", 0.14),
        "rule_dup_7gram": ("dup_7gram_char_frac", 0.13),
        "rule_dup_8gram": ("dup_8gram_char_frac", 0.12),
        "rule_dup_9gram": ("dup_9gram_char_frac", 0.11),
        "rule_dup_10gram": ("dup_10gram_char_frac", 0.10),
    }
    rule_cols = ",\n  ".join(
        f"(m.{col} <= {thr}) AS {name}" for name, (col, thr) in rules.items()
    )
    conj = " AND ".join(f"(m.{col} <= {thr})" for col, thr in rules.values())
    return f"""
WITH planted AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 5 = 0 THEN chr(10) || 'repeat me line' || chr(10)
             || 'repeat me line' || chr(10) || 'repeat me line'
           WHEN doc_id % 5 = 1 THEN chr(10) || chr(10)
             || 'dup para block here' || chr(10) || chr(10)
             || 'dup para block here'
           WHEN doc_id % 5 = 2 THEN ' ' || repeat('badger ', 7)
           WHEN doc_id % 5 = 3 THEN
             repeat(' one two three four five six seven', 2)
           ELSE '' END AS text
  FROM documents
),
words AS (SELECT doc_id, text,
  list_filter(string_split_regex(text, '\\s+'), x -> len(x) > 0) AS w
  FROM planted),
{units},
{",".join(gram_ctes)},
{",".join(top_sel)},
{",".join(dup_sel)},
m AS ({metrics})
SELECT m.*,
  {rule_cols},
  ({conj}) AS passes
FROM m
"""


def _text_c4_clean(spark, sf):
    """C4 cleaning rules (text.py::c4_clean, Raffel et al. 2020 §2.2):
    line-level terminal-punctuation / min-words / javascript filters +
    page-level sentence-count, curly-brace and lorem-ipsum gates. The
    corpus is single-line text without terminal punctuation, so the
    query PLANTS per-doc_id triggers (a five-sentence tail, a
    javascript line, a curly brace, a lorem-ipsum marker, a
    no-punctuation line) and the oracle rebuilds the identical input
    and replays every predicate. Pure HOF Column algebra, zero Python."""
    from gecko_spark.operators.text import c4_clean

    docs = load_table(spark, sf, "documents")
    tail = (
        ". More good text here one. Two more here now. Three more here"
        " now. Four more now here. Five it is now done."
    )
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 6 == 0, F.lit(tail))
            .when(
                F.col("doc_id") % 6 == 1,
                F.lit("\nthis line uses javascript heavily.\n" + tail.lstrip(". ")),
            )
            .when(F.col("doc_id") % 6 == 2, F.lit(" { code block }" + tail))
            .when(F.col("doc_id") % 6 == 3, F.lit(" lorem ipsum filler." + tail))
            .when(
                F.col("doc_id") % 6 == 4,
                F.lit("\nshort no punct line here" + tail),
            )
            .otherwise(F.lit("")),
        ),
    )
    return c4_clean(planted, "doc_id", "text")


_TEXT_C4_CLEAN_SQL = """
WITH planted AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 6 = 0 THEN
             '. More good text here one. Two more here now. Three more here now. Four more now here. Five it is now done.'
           WHEN doc_id % 6 = 1 THEN chr(10) ||
             'this line uses javascript heavily.' || chr(10)
             || 'More good text here one. Two more here now. Three more here now. Four more now here. Five it is now done.'
           WHEN doc_id % 6 = 2 THEN ' { code block }'
             || '. More good text here one. Two more here now. Three more here now. Four more now here. Five it is now done.'
           WHEN doc_id % 6 = 3 THEN ' lorem ipsum filler.'
             || '. More good text here one. Two more here now. Three more here now. Four more now here. Five it is now done.'
           WHEN doc_id % 6 = 4 THEN chr(10) || 'short no punct line here'
             || '. More good text here one. Two more here now. Three more here now. Four more now here. Five it is now done.'
           ELSE '' END AS text
  FROM documents
),
coalesced AS (
  -- Spark plants via F.concat (null-propagating), then the kernel
  -- coalesces: a NULL-text doc is '' WITHOUT the planted suffix
  SELECT doc_id, coalesce(text, '') AS text FROM planted
),
base AS (
  SELECT doc_id, text,
    list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines
  FROM coalesced
),
k AS (
  SELECT doc_id, text, lines,
    list_filter(lines, l ->
      regexp_matches(rtrim(l), '[.!?"]$')
      AND len(list_filter(string_split_regex(l, '\\s+'),
                          w -> len(w) > 0)) >= 3
      AND NOT regexp_matches(lower(l), '\\bjavascript\\b')) AS keep
  FROM base
)
SELECT doc_id,
  -- DuckDB array_to_string([]) is NULL where Spark array_join is ''
  COALESCE(array_to_string(keep, chr(10)), '') AS text_clean,
  CAST(len(keep) AS BIGINT) AS n_lines_kept,
  CAST(len(lines) - len(keep) AS BIGINT) AS n_lines_dropped,
  CAST(len(string_split_regex(COALESCE(array_to_string(keep, chr(10)), ''),
       '[.!?]')) - 1 AS BIGINT) AS n_sentences,
  ((len(string_split_regex(COALESCE(array_to_string(keep, chr(10)), ''),
       '[.!?]')) - 1 >= 5)
   AND NOT contains(text, '{')
   AND NOT contains(lower(text), 'lorem ipsum')) AS kept
FROM k
"""


def _text_quality_classifier(spark, sf):
    """Hashed n-gram linear quality classifier
    (classifier.py::hashed_linear_score — the fastText/CCNet-style
    corpus gate): logit = Σ_tokens w[polyhash(tok, P1) % 1024], exact
    int64 end-to-end (integer sums are order-independent, so the
    value-hash matches any engine). Weights here are the seeded
    deterministic vector (classifier.py::seeded_weights) so the oracle
    can derive them from the same formula; trained weights
    (train_hashed_classifier → quantize_weights) serve through the
    identical code path and are covered by tests/test_classifier.py.
    One Arrow projection, zero shuffles — scan-parallel at any scale."""
    from gecko_spark.operators.classifier import hashed_linear_score, seeded_weights

    docs = load_table(spark, sf, "documents")
    return hashed_linear_score(
        docs, seeded_weights(1024), id_col="doc_id", text_col="text"
    )


def _text_quality_classifier_sql(n_features: int = 1024, span: int = 1000) -> str:
    from gecko_spark.functions.portable_hash import P1, P2, sql_horner

    return f"""
WITH {_TOKS_CTE},
tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
idx AS (SELECT doc_id, {sql_horner('tok', P1)} % {n_features} AS i FROM tok),
w AS (SELECT CAST(i AS BIGINT) AS i,
             {sql_horner('CAST(i AS VARCHAR)', P2)} % {2 * span + 1} - {span} AS wt
      FROM range({n_features}) t(i)),
scored AS (
  SELECT doc_id, COUNT(*) AS n_toks, CAST(SUM(wt) AS BIGINT) AS logit
  FROM idx JOIN w USING (i) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_toks, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(logit, 0) AS BIGINT) AS logit,
       COALESCE(logit, 0) >= 0 AS passes
FROM documents d LEFT JOIN scored USING (doc_id)
"""


def _text_classifier_trained(spark, sf):
    """END-TO-END trained classifier contract (VERDICT r8 #5 / r9 #4):
    train full-batch logistic regression on a planted labeled sample
    (docs 0..199, label = lang=='en'; classifier.py::
    train_hashed_classifier), quantize to int64 serving weights
    (::quantize_weights), and score the WHOLE corpus through the same
    scan-only path as text_quality_classifier. The oracle replays the
    entire pipeline — training iterations included — so a green row
    certifies training reproducibility, not just serving: the trainer's
    decimal(28,6) sums and round-6 updates are engine-portable by
    construction."""
    from gecko_spark.operators.classifier import (
        hashed_linear_score,
        quantize_weights,
        train_hashed_classifier,
    )

    docs = load_table(spark, sf, "documents")
    sample = docs.filter(F.col("doc_id") < 200).withColumn(
        "y", (F.col("lang") == "en").cast("int")
    )
    w = train_hashed_classifier(
        sample, label_col="y", n_features=64, iters=6, lr=0.5
    )
    return hashed_linear_score(
        docs, quantize_weights(w), id_col="doc_id", text_col="text"
    )


def _text_classifier_trained_sql(
    n_features: int = 64, iters: int = 6, lr: float = 0.5, scale: int = 1000
) -> str:
    """Unrolled-iteration replay of train_hashed_classifier: each GD
    step is two decimal(28,6) aggregations plus a round-6 weight
    update, so six iterations are six generated CTE triples. The
    trainer AND serving both tokenize Unicode-aware (text.py::tokens /
    classifier.py::_TOKEN_RE \\w+ — unified by the round-11 adversarial
    gate, which caught the train/serve feature mismatch the old ASCII
    serving class created on non-ASCII docs). np.round (weight update) is binary
    round-half-even → round_even; F.round (sum terms) → ROUND."""
    from gecko_spark.functions.portable_hash import P1, sql_horner

    head = f"""
WITH utoks AS (
  SELECT doc_id,
         COALESCE(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                              t -> len(t) > 0), []) AS tk
  FROM documents WHERE doc_id < 200
), design AS (
  SELECT doc_id, {sql_horner('tok', P1)} % {n_features} AS i, COUNT(*) AS cnt
  FROM (SELECT doc_id, unnest(tk) AS tok FROM utoks)
  GROUP BY doc_id, i
), labels AS (
  SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y
  FROM documents WHERE doc_id < 200
), nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM labels
), w0 AS (
  SELECT CAST(i AS BIGINT) AS i, CAST(0.0 AS DOUBLE) AS w
  FROM range({n_features}) t(i)
)"""
    steps = []
    for k in range(iters):
        steps.append(f""", m{k} AS (
  SELECT d.doc_id,
         CAST(SUM(CAST(ROUND(d.cnt * w.w, 6) AS DECIMAL(28,6))) AS DOUBLE) AS m
  FROM design d JOIN w{k} w USING (i) GROUP BY d.doc_id
), e{k} AS (
  SELECT l.doc_id,
         ROUND(1.0 / (1.0 + EXP(-COALESCE(m.m, 0.0))) - l.y, 6) AS e
  FROM labels l LEFT JOIN m{k} m USING (doc_id)
), g{k} AS (
  SELECT d.i,
         CAST(SUM(CAST(ROUND(d.cnt * e.e, 6) AS DECIMAL(28,6))) AS DOUBLE) AS g
  FROM design d JOIN e{k} e USING (doc_id) GROUP BY d.i
), w{k + 1} AS (
  SELECT w.i,
         round_even(w.w - {lr} * (COALESCE(g.g, 0.0) / (SELECT n FROM nd)), 6) AS w
  FROM w{k} w LEFT JOIN g{k} g USING (i)
)""")
    tail = f""", qw AS (
  SELECT i,
         CAST(CASE WHEN w >= 0 THEN FLOOR(w * {scale} + 0.5)
                   ELSE -FLOOR(-w * {scale} + 0.5) END AS BIGINT) AS wt
  FROM w{iters}
), {_TOKS_CTE},
tok AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
idx AS (SELECT doc_id, {sql_horner('tok', P1)} % {n_features} AS i FROM tok),
scored AS (
  SELECT doc_id, COUNT(*) AS n_toks, CAST(SUM(wt) AS BIGINT) AS logit
  FROM idx JOIN qw USING (i) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(n_toks, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(logit, 0) AS BIGINT) AS logit,
       COALESCE(logit, 0) >= 0 AS passes
FROM documents d LEFT JOIN scored USING (doc_id)
"""
    return head + "".join(steps) + tail


def _text_bpe_tokens(spark, sf):
    """BPE subword encoding (text.py::bpe_tokens, Sennrich greedy
    lowest-rank-first merges) over the HAND-DERIVED fixture: the merge
    table is fixed and each expected token sequence was derived by hand
    from the algorithm (tools/make_bpe_fixture.py — covering the
    end-of-word-marker blocking, rank-beats-position, and
    unseen-char-passthrough subtleties), so the oracle replays literals
    while Spark runs the real Arrow kernel."""
    from gecko_spark.operators.text import bpe_tokens

    merges = [("a", "b"), ("ab", "c</w>"), ("ab", "c")]  # = fixture's
    df = spark.read.parquet(os.path.join(_FIXDIR, "bpe_expected.parquet"))
    tk = bpe_tokens(F.col("text"), merges)
    return df.select(
        F.col("text_id"),
        F.array_join(tk, " ").alias("tokens"),
        F.size(tk).cast("long").alias("n_tokens"),
    )


_TEXT_BPE_TOKENS_SQL = f"""
SELECT text_id, expected AS tokens, expected_n AS n_tokens
FROM read_parquet('{_FIXDIR}/bpe_expected.parquet')
"""


def _text_bigram_logprob(spark, sf):
    """Mean bigram log-probability with stupid backoff
    (text.py::bigram_logprob): the KenLM-perplexity-filter stand-in —
    word ORDER matters, so shuffled/template text scores below natural
    prose with identical unigram profiles. Same decimal(28,6)
    determinism contract as the unigram entry; the oracle replays the
    window LAG + bigram/context/unigram model joins exactly."""
    from gecko_spark.operators.text import bigram_logprob

    docs = load_table(spark, sf, "documents")
    return bigram_logprob(docs, "doc_id", "text")


_TEXT_BIGRAM_LOGPROB_SQL = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) AS pos
       FROM toks),
pairs AS (SELECT doc_id, pos, tok,
                 LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM tf),
uni AS (SELECT tok, COUNT(*) AS ucnt FROM pairs GROUP BY tok),
total AS (SELECT SUM(ucnt) AS total FROM uni),
big AS (SELECT prev, tok, COUNT(*) AS bcnt FROM pairs
        WHERE prev IS NOT NULL GROUP BY prev, tok),
ctx AS (SELECT prev, SUM(bcnt) AS ccnt FROM big GROUP BY prev),
logp AS (
  SELECT p.doc_id,
         CAST(ROUND(LN(CASE
           WHEN p.prev IS NULL THEN CAST(u.ucnt AS DOUBLE) / tt.total
           WHEN b.bcnt IS NOT NULL THEN CAST(b.bcnt AS DOUBLE) / c.ccnt
           ELSE 0.4 * CAST(u.ucnt AS DOUBLE) / tt.total
         END), 6) AS DECIMAL(28, 6)) AS lp
  FROM pairs p
  JOIN uni u USING (tok)
  LEFT JOIN big b ON b.prev = p.prev AND b.tok = p.tok
  LEFT JOIN ctx c ON c.prev = p.prev
  CROSS JOIN total tt
),
scored AS (
  -- mean rounded in EXACT integer micro-arithmetic (half away from
  -- zero): double ROUND is not portable on ties — measured at sf0.1,
  -- doc 2000's 24-token mean is exactly -3.5561505 and the engines'
  -- x*1e6 double artifacts split it
  SELECT doc_id, COUNT(*) AS n,
         CAST(SUM(lp) * 1000000 AS BIGINT) AS s_mic
  FROM logp GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN s.n > 0 THEN
         CAST((CASE WHEN s.s_mic < 0 THEN -1 ELSE 1 END)
              * ((2 * ABS(s.s_mic) + s.n) // (2 * s.n)) AS DOUBLE) / 1000000
       END AS avg_logprob
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def _text_unigram_logprob(spark, sf):
    """Mean unigram log-probability per doc (text.py::unigram_logprob):
    the classic cheap LM-quality signal, self-trained on the corpus.
    Engine-portable by construction: per-token ln p rounded to 6
    decimals then summed as decimal(28,6) — associative, so Spark's
    partition order can't drift the sum (ASCII-tokenizer oracle
    assumption as in _text_tfidf)."""
    from gecko_spark.operators.text import unigram_logprob

    docs = load_table(spark, sf, "documents")
    return unigram_logprob(docs, "doc_id", "text")


_UNIGRAM_LOGPROB_SQL = f"""
WITH {_TOKS_CTE},
toks_flat AS (SELECT doc_id, UNNEST(tk) AS tok FROM toks),
freq AS (SELECT tok, COUNT(*) AS cnt FROM toks_flat GROUP BY tok),
total AS (SELECT SUM(cnt) AS total FROM freq),
logp AS (
  SELECT t.doc_id,
         CAST(ROUND(LN(CAST(f.cnt AS DOUBLE) / tt.total), 6)
              AS DECIMAL(28, 6)) AS lp
  FROM toks_flat t JOIN freq f USING (tok) CROSS JOIN total tt
),
scored AS (
  -- tie-proof integer mean rounding, matching the engine (see the
  -- bigram entry for the measured tie this guards against)
  SELECT doc_id, COUNT(*) AS n,
         CAST(SUM(lp) * 1000000 AS BIGINT) AS s_mic
  FROM logp GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(s.n, 0) AS BIGINT) AS n_tokens,
       CASE WHEN s.n > 0 THEN
         CAST((CASE WHEN s.s_mic < 0 THEN -1 ELSE 1 END)
              * ((2 * ABS(s.s_mic) + s.n) // (2 * s.n)) AS DOUBLE) / 1000000
       END AS avg_logprob
FROM documents d LEFT JOIN scored s USING (doc_id)
"""


def _text_ppl_buckets(spark, sf):
    """CCNet head/middle/tail perplexity split (text.py::
    perplexity_buckets, Wenzek et al. 2020 §4.3): per-language exact
    terciles of the unigram LM score, integer window comparisons
    (3c ≤ n / 3c ≤ 2n with a peers-included RANGE frame) so tie groups
    never split across buckets and any engine replays the assignment
    bit-for-bit. Zero-token docs (NULL score) land in tail. The
    sampled-thresholds projection mode is the 100 TB path
    (unit-tested); this entry exercises the exact mode end-to-end."""
    from gecko_spark.operators.text import perplexity_buckets, unigram_logprob

    docs = load_table(spark, sf, "documents")
    lp = unigram_logprob(docs, "doc_id", "text").join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return perplexity_buckets(lp, "avg_logprob", ("lang",)).select(
        "doc_id", "lang", "avg_logprob", "ppl_bucket"
    )


_TEXT_PPL_BUCKETS_SQL = f"""
WITH lp AS ({_UNIGRAM_LOGPROB_SQL}),
j AS (
  SELECT lp.doc_id, d.lang, lp.avg_logprob
  FROM lp JOIN documents d USING (doc_id)
),
s AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY lang) AS n,
         COUNT(*) OVER (PARTITION BY lang ORDER BY avg_logprob DESC
                        RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM j WHERE avg_logprob IS NOT NULL
)
SELECT doc_id, lang, avg_logprob,
       CASE WHEN 3 * c <= n THEN 'head'
            WHEN 3 * c <= 2 * n THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM s
UNION ALL
SELECT doc_id, lang, avg_logprob, 'tail' AS ppl_bucket
FROM j WHERE avg_logprob IS NULL
"""


# HTML wrapper planted around each document (the corpus itself is plain
# text): single-quote-free so both engines can hold it in one literal.
_HTML_PRE = (
    '<html><head><style>p{color:red}</style>'
    "<script src=a.js>var x=1 && 2;</script></head>"
    '<body><h1 id="t">doc '
)
_HTML_MID = '</h1><p class="x">'
_HTML_POST = " &amp; more</p><!-- hidden note --></body></html>"


def _text_strip_html(spark, sf):
    """HTML boilerplate removal (text.py::strip_html): comments, script
    and style blocks (content included), tags, entities, whitespace.
    The corpus is plain text, so the query plants a deterministic HTML
    wrapper per doc (style+script+comment+tags+a double-escaped entity)
    before stripping — every removal rule fires on every row and the
    oracle rebuilds the identical input. Pure JVM regexp algebra in the
    Java∩RE2 subset; the oracle replays the same pattern chain."""
    from gecko_spark.operators.text import strip_html

    docs = load_table(spark, sf, "documents")
    html = F.concat(
        F.lit(_HTML_PRE),
        F.col("doc_id").cast("string"),
        F.lit(_HTML_MID),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(_HTML_POST),
    )
    return docs.select("doc_id", strip_html(html).alias("clean"))


_TEXT_STRIP_HTML_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         '{_HTML_PRE}' || CAST(doc_id AS VARCHAR) || '{_HTML_MID}' ||
         coalesce(text, '') || '{_HTML_POST}' AS html
  FROM documents)
SELECT doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(replace(
      regexp_replace(
      regexp_replace(
      regexp_replace(
      regexp_replace(coalesce(html, ''), '(?s)<!--.*?-->', ' ', 'g'),
        '(?is)<script\\b[^>]*>.*?</script[^>]*>', ' ', 'g'),
        '(?is)<style\\b[^>]*>.*?</style[^>]*>', ' ', 'g'),
        '<[^>]*>', ' ', 'g'),
      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', chr(34)),
      '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&'),
    '\\s+', ' ', 'g')) AS clean
FROM planted
"""


def _text_url_normalize(spark, sf):
    """URL canonicalization (text.py::normalize_url / url_host /
    url_registered_domain): plants a deterministic messy URL per doc —
    uppercase scheme+host, a default port (:80 on even ids, :443 on
    odd, so BOTH port rules fire), utm_* params flanking a real one,
    and a fragment — then normalizes and extracts host + registered
    domain. Pure Column regexp algebra (no lookaround), oracle replays
    the identical chain."""
    from gecko_spark.operators.text import (
        normalize_url,
        url_host,
        url_registered_domain,
    )

    docs = load_table(spark, sf, "documents")
    even = F.col("doc_id") % 2 == 0
    url = F.concat(
        F.when(even, F.lit("http://WWW.")).otherwise(F.lit("HTTPS://www.")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.when(even, F.lit(":80")).otherwise(F.lit(":443")),
        F.lit("/d/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&id="),
        F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=x#sec"),
    )
    return docs.select(
        "doc_id",
        normalize_url(url).alias("url_norm"),
        url_host(url).alias("host"),
        url_registered_domain(url).alias("domain"),
    )


_TEXT_URL_NORMALIZE_SQL = """
WITH planted AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 2 = 0 THEN 'http://WWW.' ELSE 'HTTPS://www.' END)
         || source || '.Example.COM'
         || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
         || '/d/' || CAST(doc_id AS VARCHAR)
         || '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
         || '&utm_campaign=x#sec' AS url
  FROM documents),
s1 AS (SELECT doc_id, url, trim(coalesce(url, '')) AS t FROM planted),
s2 AS (SELECT doc_id, url,
         CASE WHEN len(regexp_extract(t, '^([A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*@)?[^/?#]*)', 1)) > 0
              THEN lower(regexp_extract(t, '^([A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*@)?[^/?#]*)', 1)) ||
                   regexp_extract(t, '(?s)^[A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*@)?[^/?#]*(.*)$', 2)
              ELSE t END AS t FROM s1),
s3 AS (SELECT doc_id, url,
         regexp_replace(regexp_replace(t,
           '^(http://[^/?#]*):80([/?#]|$)', '\\1\\2'),
           '^(https://[^/?#]*):443([/?#]|$)', '\\1\\2') AS t FROM s2),
s4 AS (SELECT doc_id, url, regexp_replace(t, '(?s)#.*$', '') AS t FROM s3),
s5 AS (SELECT doc_id, url,
         regexp_replace(t, '[?&]utm_[A-Za-z0-9_]*=[^&#]*', '', 'g') AS t FROM s4),
s6 AS (SELECT doc_id, url,
         regexp_replace(regexp_replace(t, '^([^?&]*)&', '\\1?'), '[?&]+$', '') AS t
       FROM s5),
hosts AS (SELECT doc_id, t,
            lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#@]*@)?([^/?#:]+)', 2)) AS host
          FROM s6)
SELECT doc_id, t AS url_norm, host,
       CASE WHEN len(regexp_extract(host, '([^.]+\\.[^.]+)$', 1)) > 0
            THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) ELSE host END AS domain
FROM hosts
"""


def _sample_split(spark, sf):
    """Deterministic train/val/test split (sampling.py::split_dataset):
    assignment is a pure function of (doc_id, seed) — append-stable,
    partition-independent, and replayed bucket-for-bucket by the
    oracle (LCG draw → bucket in [0, 10000) → threshold CASE)."""
    from gecko_spark.operators.sampling import split_dataset

    docs = load_table(spark, sf, "documents").select("doc_id")
    return split_dataset(
        docs,
        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
        rand=LcgRandom("doc_id", 314),
    )


def _sample_split_sql() -> str:
    b = _uint("doc_id", 314, 12, "10000", stream=0)
    return f"""
SELECT doc_id,
       CASE WHEN {b} < 8000 THEN 'train'
            WHEN {b} < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def _dedup_cluster_reps(spark, sf):
    """Quality-aware near-dup survivorship
    (dedup.py::minhash_cluster_representatives): MinHash pairs →
    transitive closure → per-cluster representative by n_chars DESC
    (doc_id ASC tiebreak) with member count. The curation-pipeline
    complement of _dedup_transitive: min-id keeps an arbitrary member,
    this keeps the best one. Oracle = the same recursive-CTE closure
    plus a window over the joined quality column."""
    from gecko_spark.operators.dedup import minhash_cluster_representatives

    docs = load_table(spark, sf, "documents")
    return minhash_cluster_representatives(
        docs,
        "doc_id",
        "text",
        "n_chars",
        threshold=0.8,
        num_hashes=64,
        bands=16,
        shingle_size=5,
        on_nonconvergence="raise",
    )


def _dedup_cluster_reps_sql(threshold: float = 0.8) -> str:
    pairs_sql = _dedup_minhash_sql()
    return f"""
WITH RECURSIVE mh_pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE est_jaccard >= {threshold}
  UNION
  SELECT id_b, id_a FROM mh_pairs WHERE est_jaccard >= {threshold}
),
walk(node, comp) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.comp FROM edges e JOIN walk w ON e.dst = w.node
),
cc AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
member AS (SELECT c.comp AS cluster_id, c.node AS m_id, d.n_chars
           FROM cc c JOIN documents d ON d.doc_id = c.node),
ranked AS (SELECT cluster_id, m_id,
                  row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, m_id ASC) AS rn,
                  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
           FROM member)
SELECT cluster_id, m_id AS rep_id, n_members FROM ranked WHERE rn = 1
"""


def _dedup_substring_spans(spark, sf):
    """Exact substring-span dedup (round 10; Lee et al. 2022
    ExactSubstr, dedup.py::substring_dup_spans): maximal character
    spans duplicated ACROSS documents — stride-1 two-prime window
    hashes, hash-agg cross-doc filter, position flag join, per-doc
    interval merge. window=40, winnow=1 (exact), audit view
    (keep="none"). The oracle replays the identical pipeline: the
    62-bit combined hashes are integer-exact on both engines and the
    lag-based island merge equals the kernel's running-end merge for
    fixed-width windows."""
    from gecko_spark.operators.dedup import substring_dup_spans

    docs = load_table(spark, sf, "documents")
    return substring_dup_spans(docs, "doc_id", "text", window=40)


def _dedup_substring_spans_sql(window: int = 40) -> str:
    from gecko_spark.functions.portable_hash import sql_window_hashes_combined

    hs = sql_window_hashes_combined("text", window)
    return f"""
WITH hs AS (
  SELECT doc_id, {hs} AS hl FROM documents
), wh AS (
  SELECT doc_id, generate_subscripts(hl, 1) - 1 AS pos, unnest(hl) AS h
  FROM hs
), dup AS (
  SELECT h FROM wh GROUP BY h HAVING min(doc_id) <> max(doc_id)
), flagged AS (
  SELECT w.doc_id, w.pos FROM wh w JOIN dup USING (h)
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {window} THEN 0 ELSE 1 END AS brk
  FROM flagged
), grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {window} AS raw_end
  FROM grp GROUP BY doc_id, g
)
SELECT s.doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(LEAST(raw_end, length(coalesce(d.text, ''))) AS BIGINT) AS span_end
FROM spans s JOIN documents d USING (doc_id)
"""


def _dedup_substring_winnowed(spark, sf):
    """The WINNOWED substring-span path (dedup.py::substring_dup_spans
    winnow=8 — the 100 TB scale mode, ~2/(w+1) of the stride-1 rows):
    the oracle replays the Schleimer-2003 rightmost-minimum selection
    itself as a windowed arg_min over a HUGEINT composite key
    (h·2^32 + (2^32−1−pos): min hash dominates, ties go to the
    RIGHTMOST position), so the sampled position set — not just the
    spans — is engine-checked."""
    from gecko_spark.operators.dedup import substring_dup_spans

    docs = load_table(spark, sf, "documents")
    return substring_dup_spans(docs, "doc_id", "text", window=40, winnow=8)


def _dedup_substring_winnowed_sql(window: int = 40, winnow: int = 8) -> str:
    from gecko_spark.functions.portable_hash import sql_window_hashes_combined

    hs = sql_window_hashes_combined("text", window)
    return f"""
WITH hs AS (
  SELECT doc_id, {hs} AS hl FROM documents
), wh0 AS (
  SELECT doc_id, generate_subscripts(hl, 1) - 1 AS pos, unnest(hl) AS h,
         len(hl) AS nh
  FROM hs
), sel AS (
  SELECT doc_id, pos,
         arg_min(pos, CAST(h AS HUGEINT) * 4294967296
                      + (4294967295 - pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN {winnow - 1} PRECEDING AND CURRENT ROW) AS spos
  FROM wh0 WHERE nh > {winnow}
), wpos AS (
  SELECT DISTINCT doc_id, spos AS pos FROM sel WHERE pos >= {winnow - 1}
  UNION ALL
  SELECT doc_id, pos FROM wh0 WHERE nh <= {winnow}
), wh AS (
  SELECT w.doc_id, w.pos, o.h
  FROM wpos w JOIN wh0 o USING (doc_id, pos)
), dup AS (
  SELECT h FROM wh GROUP BY h HAVING min(doc_id) <> max(doc_id)
), flagged AS (
  SELECT w.doc_id, w.pos FROM wh w JOIN dup USING (h)
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {window} THEN 0 ELSE 1 END AS brk
  FROM flagged
), grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {window} AS raw_end
  FROM grp GROUP BY doc_id, g
)
SELECT s.doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(LEAST(raw_end, length(coalesce(d.text, ''))) AS BIGINT) AS span_end
FROM spans s JOIN documents d USING (doc_id)
"""


def _dedup_substring_incr(spark, sf):
    """Incremental ExactSubstr (dedup.py::write_substring_index /
    substring_spans_against_index): docs 0..249 are the INDEXED
    historical corpus — their distinct window hashes written to parquet
    through the real index path — and docs 250+ are the new batch,
    probed with ONE semi-join; the historical text is never re-read.
    The oracle recomputes both sides from the documents table."""
    import shutil
    import uuid

    from gecko_spark.operators.dedup import (
        substring_spans_against_index,
        write_substring_index,
    )

    docs = load_table(spark, sf, "documents")
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scratch",
        f"substr_idx_{uuid.uuid4().hex[:12]}",
    )
    try:
        write_substring_index(
            docs.filter(F.col("doc_id") < 250), "doc_id", "text", base, window=40
        )
        index = spark.read.parquet(base)
        out = substring_spans_against_index(
            docs.filter(F.col("doc_id") >= 250), index, "doc_id", "text",
            window=40,
        )
        # materialize before the temp index dir is removed
        pdf = out.toPandas()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "doc_id long, span_start long, span_end long"
    ) if len(pdf) else spark.createDataFrame([], "doc_id long, span_start long, span_end long")


def _dedup_substring_incr_sql(window: int = 40, split: int = 250) -> str:
    from gecko_spark.functions.portable_hash import sql_window_hashes_combined

    hs = sql_window_hashes_combined("text", window)
    return f"""
WITH hs AS (
  SELECT doc_id, {hs} AS hl FROM documents
), wh0 AS (
  SELECT doc_id, generate_subscripts(hl, 1) - 1 AS pos, unnest(hl) AS h
  FROM hs
), idx AS (
  SELECT DISTINCT h FROM wh0 WHERE doc_id < {split}
), flagged AS (
  SELECT w.doc_id, w.pos FROM wh0 w
  WHERE w.doc_id >= {split} AND w.h IN (SELECT h FROM idx)
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {window} THEN 0 ELSE 1 END AS brk
  FROM flagged
), grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), spans AS (
  SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {window} AS raw_end
  FROM grp GROUP BY doc_id, g
)
SELECT s.doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(LEAST(raw_end, length(coalesce(d.text, ''))) AS BIGINT) AS span_end
FROM spans s JOIN documents d USING (doc_id)
"""


def _dedup_substring_incr_clean(spark, sf):
    """Incremental ExactSubstr EXCISION (r11,
    dedup.py::substring_dedupe_against_index): docs 0..249 are the
    indexed history, docs 250+ the new batch; every new-batch span
    whose windows exist in the index is cut UNCONDITIONALLY (history
    holds the surviving copy by construction) and the survivors are
    stitched by the shared pure-Column fold. The oracle replays the
    semi-join flag, the interval merge, and the string reconstruction
    — string-exact."""
    import shutil
    import uuid

    from gecko_spark.operators.dedup import (
        substring_dedupe_against_index,
        write_substring_index,
    )

    docs = load_table(spark, sf, "documents")
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scratch",
        f"substr_idxc_{uuid.uuid4().hex[:12]}",
    )
    try:
        write_substring_index(
            docs.filter(F.col("doc_id") < 250), "doc_id", "text", base, window=40
        )
        index = spark.read.parquet(base)
        out = substring_dedupe_against_index(
            docs.filter(F.col("doc_id") >= 250), index, "doc_id", "text",
            window=40,
        ).select(
            "doc_id",
            "text_clean",
            (F.length(F.coalesce(F.col("text"), F.lit("")))
             - F.length(F.coalesce(F.col("text_clean"), F.lit("")))
             ).cast("long").alias("n_cut"),
        )
        # materialize before the temp index dir is removed
        pdf = out.toPandas()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    schema = "doc_id long, text_clean string, n_cut long"
    return (
        spark.createDataFrame(pdf, schema)
        if len(pdf)
        else spark.createDataFrame([], schema)
    )


def _dedup_substring_incr_clean_sql(window: int = 40, split: int = 250) -> str:
    from gecko_spark.functions.portable_hash import sql_window_hashes_combined

    hs = sql_window_hashes_combined("text", window)
    return f"""
WITH hs AS (
  SELECT doc_id, {hs} AS hl FROM documents
), wh0 AS (
  SELECT doc_id, generate_subscripts(hl, 1) - 1 AS pos, unnest(hl) AS h
  FROM hs
), idx AS (
  SELECT DISTINCT h FROM wh0 WHERE doc_id < {split}
), flagged AS (
  SELECT w.doc_id, w.pos FROM wh0 w
  WHERE w.doc_id >= {split} AND w.h IN (SELECT h FROM idx)
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {window} THEN 0 ELSE 1 END AS brk
  FROM flagged
), grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {window} AS e
  FROM grp GROUP BY doc_id, g
), segs AS (
  SELECT doc_id,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS b,
         s AS t
  FROM spans
  UNION ALL
  SELECT doc_id, MAX(e) AS b, NULL AS t FROM spans GROUP BY doc_id
), rebuilt AS (
  SELECT sg.doc_id,
         string_agg(
           CASE WHEN sg.t IS NULL
                THEN substr(coalesce(d.text, ''), CAST(sg.b + 1 AS INT))
                ELSE substr(coalesce(d.text, ''), CAST(sg.b + 1 AS INT),
                            CAST(greatest(sg.t - sg.b, 0) AS INT)) END,
           '' ORDER BY sg.b) AS text_clean
  FROM segs sg JOIN documents d USING (doc_id)
  GROUP BY sg.doc_id
), cleaned AS (
  SELECT doc_id, coalesce(text_clean, '') AS text_clean FROM rebuilt
  UNION ALL
  SELECT d.doc_id, d.text AS text_clean
  FROM documents d ANTI JOIN rebuilt USING (doc_id)
  WHERE d.doc_id >= {split}
)
SELECT c.doc_id, c.text_clean,
       CAST(length(coalesce(d.text, '')) - length(coalesce(c.text_clean, ''))
            AS BIGINT) AS n_cut
FROM cleaned c JOIN documents d USING (doc_id)
"""


def _dedup_substring_clean(spark, sf):
    """Keep-first substring excision (dedup.py::substring_dedupe): every
    duplicated window's lowest-(id, pos) copy survives; all other
    copies are cut and the survivors stitched by a Column aggregate
    fold. The oracle replays keeper selection (row_number over (id,
    pos) per hash), the island merge, and the string reconstruction
    (list_reduce over the sorted span list) — string-exact, so a hash
    mismatch catches one wrong substring index on either engine."""
    from gecko_spark.operators.dedup import substring_dedupe

    docs = load_table(spark, sf, "documents")
    out = substring_dedupe(docs, "doc_id", "text", window=40)
    return out.select(
        "doc_id",
        F.col("text_clean"),
        (F.length(F.coalesce(F.col("text"), F.lit("")))
         # coalesce text_clean too (ADVICE r10): a NULL-text doc keeps
         # text_clean NULL, and NULL arithmetic would yield n_cut NULL
         # where the oracle's coalesce yields 0
         - F.length(F.coalesce(F.col("text_clean"), F.lit("")))
         ).cast("long").alias("n_cut"),
    )


def _dedup_substring_clean_sql(window: int = 40) -> str:
    from gecko_spark.functions.portable_hash import sql_window_hashes_combined

    hs = sql_window_hashes_combined("text", window)
    return f"""
WITH hs AS (
  SELECT doc_id, {hs} AS hl FROM documents
), wh AS (
  SELECT doc_id, generate_subscripts(hl, 1) - 1 AS pos, unnest(hl) AS h
  FROM hs
), dup AS (
  SELECT h FROM wh GROUP BY h HAVING min(doc_id) <> max(doc_id)
), ranked AS (
  SELECT w.doc_id, w.pos,
         row_number() OVER (PARTITION BY w.h ORDER BY w.doc_id, w.pos) AS rn
  FROM wh w JOIN dup USING (h)
), flagged AS (
  SELECT doc_id, pos FROM ranked WHERE rn > 1
), marked AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {window} THEN 0 ELSE 1 END AS brk
  FROM flagged
), grp AS (
  SELECT doc_id, pos,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
), spans AS (
  SELECT doc_id, MIN(pos) AS s, MAX(pos) + {window} AS e
  FROM grp GROUP BY doc_id, g
), segs AS (
  -- complement intervals: [prev span end, this span start) per doc,
  -- plus the tail [last span end, len) with t = NULL meaning to-end
  SELECT doc_id,
         coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS b,
         s AS t
  FROM spans
  UNION ALL
  SELECT doc_id, MAX(e) AS b, NULL AS t FROM spans GROUP BY doc_id
), rebuilt AS (
  SELECT sg.doc_id,
         string_agg(
           CASE WHEN sg.t IS NULL
                THEN substr(coalesce(d.text, ''), CAST(sg.b + 1 AS INT))
                ELSE substr(coalesce(d.text, ''), CAST(sg.b + 1 AS INT),
                            CAST(greatest(sg.t - sg.b, 0) AS INT)) END,
           '' ORDER BY sg.b) AS text_clean
  FROM segs sg JOIN documents d USING (doc_id)
  GROUP BY sg.doc_id
), cleaned AS (
  SELECT doc_id, coalesce(text_clean, '') AS text_clean FROM rebuilt
  UNION ALL
  SELECT d.doc_id, d.text AS text_clean
  FROM documents d ANTI JOIN rebuilt USING (doc_id)
)
SELECT c.doc_id, c.text_clean,
       CAST(length(coalesce(d.text, '')) - length(coalesce(c.text_clean, ''))
            AS BIGINT) AS n_cut
FROM cleaned c JOIN documents d USING (doc_id)
"""


def _dedup_fp_overlap(spark, sf):
    """Winnowing-fingerprint overlap pairs
    (dedup.py::fingerprint_overlap_pairs, MOSS-style): per-doc signature
    = 16 smallest distinct rolling 8-gram hashes (the portable
    polynomial — same kernel as doc_fingerprints), inverted-index join,
    pairs sharing ≥ 8 fingerprints, with the max_df=100 hot-fingerprint
    guard ON so the plan under test is the scale plan. Content-addressed
    near-dup: a shared fingerprint IS a shared substring window.
    (ASCII-corpus assumption for lower(), as in doc_fingerprints.)"""
    from gecko_spark.operators.dedup import fingerprint_overlap_pairs

    docs = load_table(spark, sf, "documents")
    return fingerprint_overlap_pairs(
        docs, "doc_id", "text", window=8, keep=16, min_shared=8, max_df=100
    )


def _dedup_fp_overlap_sql(
    window: int = 8, keep: int = 16, min_shared: int = 8, max_df: int = 100
) -> str:
    from gecko_spark.functions.portable_hash import P1, sql_window_hashes

    wh = sql_window_hashes("lower(text)", window, P1)
    return f"""
WITH sigs AS (SELECT doc_id, list_sort(list_distinct({wh}))[1:{keep}] AS sig
              FROM documents),
inv0 AS (SELECT doc_id, len(sig) AS sz, UNNEST(sig) AS fp FROM sigs),
hot AS (SELECT fp FROM inv0 GROUP BY fp HAVING COUNT(*) > {max_df}),
inv AS (SELECT * FROM inv0 WHERE fp NOT IN (SELECT fp FROM hot)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
         COUNT(*) AS n_shared
  FROM inv a JOIN inv b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT id_a, id_b, n_shared,
       ROUND(CAST(n_shared AS DOUBLE) / LEAST(sz_a, sz_b), 6) AS overlap
FROM pairs WHERE n_shared >= {min_shared}
"""


def _sample_split_grouped(spark, sf):
    """LEAKAGE-SAFE split: near-duplicate documents must land in the
    SAME split, or test answers leak into train through paraphrases the
    row-hash split can't see. Composition: MinHash transitive clusters
    (exact-closure mode) label each doc with its component; singletons
    keep their own id; split_dataset then buckets on the GROUP label,
    so a whole near-dup cluster moves as one unit across the
    train/val/test boundary. Oracle replays closure + label + bucket
    CASE exactly."""
    from gecko_spark.core import LcgRandom as _Lcg
    from gecko_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )
    from gecko_spark.operators.sampling import split_dataset

    docs = load_table(spark, sf, "documents")
    pairs = minhash_candidate_pairs(
        docs, "doc_id", "text", num_hashes=64, bands=16, shingle_size=5
    ).filter(F.col("est_jaccard") >= 0.8)
    labels = connected_components(pairs, on_nonconvergence="raise")
    grouped = (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .withColumn("grp", F.coalesce("component", "doc_id"))
    )
    return split_dataset(
        grouped,
        [("train", 0.8), ("val", 0.1), ("test", 0.1)],
        rand=_Lcg("grp", 315),
    ).select("doc_id", "split")


def _sample_split_grouped_sql(threshold: float = 0.8) -> str:
    pairs_sql = _dedup_minhash_sql()
    b = _uint("grp", 315, 12, "10000", stream=0)
    return f"""
WITH RECURSIVE mh_pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM mh_pairs WHERE est_jaccard >= {threshold}
  UNION
  SELECT id_b, id_a FROM mh_pairs WHERE est_jaccard >= {threshold}
),
walk(node, comp) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, w.comp FROM edges e JOIN walk w ON e.dst = w.node
),
cc AS (SELECT node, MIN(comp) AS comp FROM walk GROUP BY node),
grouped AS (
  SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS grp
  FROM documents d LEFT JOIN cc c ON c.node = d.doc_id)
SELECT doc_id,
       CASE WHEN {b} < 8000 THEN 'train'
            WHEN {b} < 9000 THEN 'val'
            ELSE 'test' END AS split
FROM grouped
"""


def _sample_shuffle(spark, sf):
    """Deterministic global corpus shuffle
    (sampling.py::shuffle_ranked): contiguous 0-based position in a
    seeded random permutation via the scalable two-phase rank (bucket
    counts → driver offsets → per-bucket windows) — bit-identical to
    the single-reducer ROW_NUMBER the oracle runs, because floor(u·B)
    is monotone in u so per-bucket order concatenates to global order."""
    from gecko_spark.core import LcgRandom as _Lcg
    from gecko_spark.operators.sampling import shuffle_ranked

    docs = load_table(spark, sf, "documents").select("doc_id")
    return shuffle_ranked(docs, "doc_id", _Lcg("doc_id", 316), buckets=64)


def _sample_shuffle_sql() -> str:
    u = lcg_uniform_sql("doc_id", 316, 11, stream=0)
    return f"""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY {u} ASC, doc_id ASC) - 1 AS BIGINT)
         AS shuffle_rank
FROM documents
"""


def _text_vocab_divergence(spark, sf):
    """Corpus drift monitor (text.py::vocab_divergence): top-20 terms
    by per-term KL(P‖Q) contribution between the even-doc_id and
    odd-doc_id halves of the corpus, Laplace-smoothed over the union
    vocabulary. Contributions rounded to 6 decimals BEFORE ranking
    (term-ascending tiebreak) so the top-k boundary is engine-portable
    — same design as text_tfidf_top3. (ASCII-tokenizer oracle
    assumption, as in _text_tfidf.)"""
    from gecko_spark.core import adopt_cache_owner
    from gecko_spark.operators.text import vocab_divergence

    docs = load_table(spark, sf, "documents")
    out = vocab_divergence(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "text",
        k=20,
    )
    # exact-width parity with the BIGINT-producing oracle window; the
    # chained withColumn would drop the internal vocab cache's owner
    # (core.py caller contract), so re-tie the lifetime explicitly
    return adopt_cache_owner(
        out.withColumn("rank", F.col("rank").cast("long")), out
    )


_TEXT_VOCAB_DIVERGENCE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         COALESCE(list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'),
                              t -> len(t) > 0), []) AS tk
  FROM documents),
flat AS (SELECT doc_id, UNNEST(tk) AS term FROM toks),
ca AS (SELECT term, COUNT(*) AS cnt_a FROM flat WHERE doc_id % 2 = 0 GROUP BY term),
cb AS (SELECT term, COUNT(*) AS cnt_b FROM flat WHERE doc_id % 2 = 1 GROUP BY term),
joined AS (
  SELECT COALESCE(ca.term, cb.term) AS term,
         COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
stats AS (SELECT SUM(cnt_a) AS n_a, SUM(cnt_b) AS n_b, COUNT(*) AS v FROM joined),
scored AS (
  SELECT term, cnt_a, cnt_b,
         ROUND((CAST(cnt_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE))
               * LN((CAST(cnt_a + 1 AS DOUBLE) / CAST(n_a + v AS DOUBLE))
                    / (CAST(cnt_b + 1 AS DOUBLE) / CAST(n_b + v AS DOUBLE))), 6)
           AS contrib
  FROM joined CROSS JOIN stats),
ranked AS (
  SELECT term, cnt_a, cnt_b, contrib,
         row_number() OVER (ORDER BY contrib DESC, term ASC) AS rank
  FROM scored)
SELECT term, cnt_a, cnt_b, contrib, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 20
"""


# ---------------------------------------------------------------------------
# Multimodal oracle fixtures (round 8, VERDICT r7 #3): every payload's
# DECODED content is known in closed form — BMP/PNG losslessly carry a
# formula image, JPEGs carry a constant-gray image (builder-asserted),
# WAVs carry formula int16 samples — so DuckDB replays the engine's
# deterministic feature reduction from the parquet's meta columns while
# Spark decodes the actual codec bytes. A hash mismatch means the
# decode path broke. Fixtures: tools/make_media_fixture.py.
# ---------------------------------------------------------------------------



def _mm_image_features(spark, sf):
    """Image decode → 4×4 grid features through the REAL executor path
    (mapInPandas, pure-Python BMP/PNG/baseline+progressive-JPEG
    decoders, multimodal.py::decode_image_features). Features are
    gray/255 floats; ×255 rounds back to the exact integer gray
    samples, so the contract is integer-exact end to end. The null
    payload row exercises the per-payload quarantine path.

    Contract shape (round 9, VERDICT r8 #1): the feature vector is
    EXPLODED to scalar (media_id, mime, i, v) rows — the driver's
    canonicalizer pandas-sorts raw column values, and array-typed
    columns crash it (``TypeError: unhashable type: 'list'``,
    CORRECTNESS_r08.json). Quarantined (null-payload) rows emit one
    sentinel row (i=0, v=-1) so they stay visible without introducing
    NULL ints (which would widen the pandas dtype to float)."""
    from gecko_spark.operators.multimodal import decode_image_features

    media = spark.read.parquet(_MEDIA_IMAGES)
    feats = decode_image_features(media, out_dim=16)
    arr = F.coalesce(
        F.expr("transform(features, x -> cast(round(x * 255) as int))"),
        F.expr("array(cast(-1 as int))"),
    )
    return feats.select(
        "media_id", "mime", F.posexplode(arr).alias("i", "v")
    )


_MM_IMAGE_FEATURES_SQL = f"""
WITH m AS (SELECT media_id, mime, h, w, kind, cval
           FROM read_parquet('{_MEDIA_IMAGES}')),
grid AS (SELECT i FROM generate_series(0, 15) AS t(i)),
px AS (
  SELECT m.media_id, m.mime, g.i,
         CAST(CASE m.kind
           WHEN 'formula' THEN
             (7 * (((2 * (g.i % 4) + 1) * m.w) // 8)
              + 13 * (((2 * (g.i // 4) + 1) * m.h) // 8)
              + 31 * m.media_id) % 256
           WHEN 'const' THEN m.cval
         END AS INT) AS v
  FROM m CROSS JOIN grid g
  WHERE m.kind <> 'null')
SELECT media_id, mime, CAST(i AS INT) AS i, v FROM px
UNION ALL
SELECT media_id, mime, CAST(0 AS INT) AS i, CAST(-1 AS INT) AS v
FROM m WHERE kind = 'null'
"""


def _mm_image_quarantine(spark, sf):
    """Per-payload corrupt-media quarantine end-to-end (round 13,
    VERDICT r12 #6 + the new ``on_error`` policy): every non-null
    fixture payload gets a doctored twin (media_id + 1000) TRUNCATED
    at half its bytes IN THE QUERY (binary substring — no extra
    fixture file), and the whole union decodes with
    ``on_error="null"``. Contract: originals decode (ok, not
    quarantined); every truncated twin — JPEG cut mid-entropy-stream,
    PNG with a truncated zlib stream, BMP short of its pixel array —
    is quarantined with a reason, neighbors unaffected; the null
    payload stays the third state (not ok, not quarantined). The
    oracle knows the fates by construction."""
    from gecko_spark.operators.multimodal import decode_image_features

    media = spark.read.parquet(_MEDIA_IMAGES)
    bad = media.filter(F.col("kind") != "null").select(
        (F.col("media_id") + 1000).alias("media_id"),
        F.expr(
            "substring(content, 1, cast(length(content)/2 as int))"
        ).alias("content"),
        "mime",
    )
    allm = media.select("media_id", "content", "mime").unionByName(bad)
    feats = decode_image_features(allm, out_dim=16, on_error="null")
    return feats.select(
        "media_id",
        F.col("features").isNotNull().alias("ok"),
        F.col("error").isNotNull().alias("quarantined"),
    )


_MM_IMAGE_QUARANTINE_SQL = f"""
WITH m AS (SELECT media_id, kind FROM read_parquet('{_MEDIA_IMAGES}'))
SELECT media_id, kind <> 'null' AS ok, FALSE AS quarantined FROM m
UNION ALL
SELECT media_id + 1000 AS media_id, FALSE AS ok, TRUE AS quarantined
FROM m WHERE kind <> 'null'
"""


def _mm_audio_features(spark, sf):
    """Audio decode → 16-window RMS envelope through the real executor
    path (RIFF/WAV parse + windowed RMS in
    multimodal.py::decode_audio_features). The fixture samples are
    exact multiples of 2⁻¹⁵, so every float64 sum is integer-exact in
    any order and sqrt/scale round identically in both engines —
    ×1e6-rounded bigints hash-match bit-for-bit.

    Contract shape (round 9, VERDICT r8 #1): the RMS envelope is
    EXPLODED to scalar (media_id, mime, w, v, sample_rate,
    duration_ms) rows — array columns crash the driver's raw-sort
    canonicalizer (CORRECTNESS_r08.json). Quarantined rows emit one
    sentinel row (w=0, v=-1) and coalesce their NULL meta ints to -1
    so no pandas column widens to float."""
    from gecko_spark.operators.multimodal import decode_audio_features

    media = spark.read.parquet(_MEDIA_AUDIO)
    feats = decode_audio_features(media, out_dim=16)
    arr = F.coalesce(
        F.expr("transform(features, x -> cast(round(x * 1e6) as bigint))"),
        F.expr("array(cast(-1 as bigint))"),
    )
    return feats.select(
        "media_id",
        "mime",
        F.posexplode(arr).alias("w", "v"),
        F.coalesce("sample_rate", F.lit(-1)).alias("sample_rate"),
        F.coalesce(F.col("duration_ms"), F.lit(-1)).alias("duration_ms"),
    )


_MM_AUDIO_FEATURES_SQL = f"""
WITH m AS (SELECT media_id, mime, n, rate, kind
           FROM read_parquet('{_MEDIA_AUDIO}')),
win AS (SELECT i AS w FROM generate_series(0, 15) AS t(i)),
b AS (SELECT m.media_id, m.mime, m.n, m.rate, win.w,
             (win.w * m.n) // 16 AS lo, ((win.w + 1) * m.n) // 16 AS hi
      FROM m CROSS JOIN win WHERE m.kind = 'formula'),
samp AS (SELECT media_id, UNNEST(range(n)) AS i FROM m WHERE kind = 'formula'),
k AS (SELECT media_id, i,
             (31 * i * i + 7 * i + 1000003 * media_id) % 65536 - 32768 AS kv
      FROM samp),
rms AS (
  SELECT b.media_id, b.mime, b.rate, b.n, b.w,
         CAST(round(CAST(CAST(
             sqrt(CAST(SUM(k.kv * k.kv) AS DOUBLE)
                  / GREATEST(b.hi - b.lo, 1)) / 32768.0
           AS REAL) AS DOUBLE) * 1e6) AS BIGINT) AS v
  FROM b JOIN k ON k.media_id = b.media_id AND k.i >= b.lo AND k.i < b.hi
  GROUP BY b.media_id, b.mime, b.rate, b.n, b.w, b.lo, b.hi)
SELECT media_id, mime, CAST(w AS INT) AS w, v,
       CAST(rate AS INT) AS sample_rate,
       CAST((n * 1000) // rate AS BIGINT) AS duration_ms
FROM rms
UNION ALL
SELECT media_id, mime, CAST(0 AS INT) AS w, CAST(-1 AS BIGINT) AS v,
       CAST(-1 AS INT) AS sample_rate, CAST(-1 AS BIGINT) AS duration_ms
FROM m WHERE kind = 'null'
"""


def _mm_audio_quarantine(spark, sf):
    """Audio-path twin of :func:`_mm_image_quarantine` (round 13): each
    non-null WAV payload gets a doctored copy (media_id + 1000)
    truncated to its first 20 bytes IN THE QUERY — the RIFF/WAVE magic
    survives (so it is not mistaken for a foreign format) but the fmt
    chunk body is empty, a deterministic typed decode error for every
    WAV flavor. ``on_error="null"`` must quarantine exactly the twins
    (NULL features AND NULL metadata, reason recorded) while the
    originals decode; the null payload remains the third state."""
    from gecko_spark.operators.multimodal import decode_audio_features

    media = spark.read.parquet(_MEDIA_AUDIO)
    bad = media.filter(F.col("kind") != "null").select(
        (F.col("media_id") + 1000).alias("media_id"),
        F.expr("substring(content, 1, 20)").alias("content"),
        "mime",
    )
    allm = media.select("media_id", "content", "mime").unionByName(bad)
    feats = decode_audio_features(allm, out_dim=16, on_error="null")
    return feats.select(
        "media_id",
        F.col("features").isNotNull().alias("ok"),
        F.col("sample_rate").isNotNull().alias("has_meta"),
        F.col("error").isNotNull().alias("quarantined"),
    )


_MM_AUDIO_QUARANTINE_SQL = f"""
WITH m AS (SELECT media_id, kind FROM read_parquet('{_MEDIA_AUDIO}'))
SELECT media_id, kind <> 'null' AS ok, kind <> 'null' AS has_meta,
       FALSE AS quarantined
FROM m
UNION ALL
SELECT media_id + 1000 AS media_id, FALSE AS ok, FALSE AS has_meta,
       TRUE AS quarantined
FROM m WHERE kind <> 'null'
"""


_MEDIA_VIDEO = os.path.join(_FIXDIR, "media_video.parquet")


def _mm_video_frames(spark, sf):
    """Video frame sampling through the REAL executor path
    (multimodal.py::sample_video_frames): RIFF/AVI walk + per-sampled-
    frame JPEG decode + BT.601 luma for MJPEG, raw-plane extraction
    for Y4M — only the SAMPLED frames are decoded. Fixture frames are
    constant-gray (builder-asserted through the same luma math), so
    the emitted PGM's pixel min == max == the recorded constant; the
    wrapper summarizes each PGM (header dims + pixel range) and the
    oracle replays sampling arithmetic + `cvals` from the meta
    columns. The null-payload row emits no frames on both sides."""
    from gecko_spark.operators.multimodal import sample_video_frames

    media = spark.read.parquet(_MEDIA_VIDEO)
    frames = sample_video_frames(media, every_n=3, max_frames=3)

    def _summarize(batches):
        import numpy as np

        for pdf in batches:
            out = {"media_id": [], "frame_index": [], "fh": [], "fw": [],
                   "gmin": [], "gmax": []}
            for mid, fi, fr in zip(
                pdf["media_id"], pdf["frame_index"], pdf["frame"]
            ):
                b = bytes(fr)
                assert b.startswith(b"P5\n")
                nl = b.index(b"\n", 3)
                w, h = (int(x) for x in b[3:nl].split())
                px = np.frombuffer(b[nl + 1 + 4 :], dtype=np.uint8)
                assert px.size == w * h
                out["media_id"].append(mid)
                out["frame_index"].append(fi)
                out["fh"].append(h)
                out["fw"].append(w)
                out["gmin"].append(int(px.min()))
                out["gmax"].append(int(px.max()))
            yield pd.DataFrame(out)

    return frames.mapInPandas(
        _summarize,
        "media_id long, frame_index int, fh int, fw int, gmin int, gmax int",
    )


_MM_VIDEO_FRAMES_SQL = f"""
WITH m AS (SELECT media_id, n_frames, fh, fw, cvals
           FROM read_parquet('{_MEDIA_VIDEO}') WHERE kind = 'const'),
fi AS (SELECT m.media_id, m.n_frames, m.fh, m.fw, m.cvals,
              UNNEST(range(3)) AS j
       FROM m)
SELECT media_id, CAST(j * 3 AS INT) AS frame_index,
       fh, fw,
       cvals[CAST(j * 3 AS INT) + 1] AS gmin,
       cvals[CAST(j * 3 AS INT) + 1] AS gmax
FROM fi WHERE j * 3 < n_frames
"""


def _mm_video_quarantine(spark, sf):
    """Video-path quarantine contract (round 14, VERDICT r13 #4 —
    image and audio twins exist since r13). Every non-null fixture
    clip gets a doctored copy (media_id + 1000) truncated to its first
    16 bytes IN THE QUERY: the container magic survives (RIFF…AVI /
    YUV4MPEG2 prefix — so the payload is not mistaken for a foreign
    format) but the stream headers are cut, a deterministic typed
    ``UnsupportedMediaError`` for BOTH container kinds (verified:
    'AVI has no MJPG video stream header' / 'truncated Y4M header').
    ``sample_video_frames`` fans out (one row per frame), so there is
    no natural quarantine ROW — ``on_error="null"`` instead drops the
    corrupt clip's frames atomically; the contract pins the per-media
    frame COUNTS: originals sample exactly their construction-known
    frames, twins and the null payload emit zero."""
    from gecko_spark.operators.multimodal import sample_video_frames

    media = spark.read.parquet(_MEDIA_VIDEO)
    bad = media.filter(F.col("kind") != "null").select(
        (F.col("media_id") + 1000).alias("media_id"),
        F.expr("substring(content, 1, 16)").alias("content"),
        "mime",
    )
    allm = media.select("media_id", "content", "mime").unionByName(bad)
    frames = sample_video_frames(allm, every_n=3, max_frames=3, on_error="null")
    per = frames.groupBy("media_id").agg(F.count("*").alias("n_out"))
    return (
        allm.select("media_id")
        .join(per, "media_id", "left")
        .select(
            "media_id",
            F.coalesce(F.col("n_out"), F.lit(0)).alias("n_frames_out"),
            (F.coalesce(F.col("n_out"), F.lit(0)) > 0).alias("ok"),
        )
    )


_MM_VIDEO_QUARANTINE_SQL = f"""
WITH m AS (SELECT media_id, kind, n_frames
           FROM read_parquet('{_MEDIA_VIDEO}')),
orig AS (
  SELECT media_id,
         CAST(CASE WHEN kind = 'const'
              THEN least(3, CAST(ceil(n_frames / 3.0) AS INT))
              ELSE 0 END AS BIGINT) AS n_frames_out
  FROM m),
tw AS (SELECT media_id + 1000 AS media_id, CAST(0 AS BIGINT) AS n_frames_out
       FROM m WHERE kind <> 'null')
SELECT media_id, n_frames_out, n_frames_out > 0 AS ok FROM orig
UNION ALL
SELECT media_id, n_frames_out, n_frames_out > 0 AS ok FROM tw
"""


def _stream_dedupe_parity(spark, sf):
    """Streaming dedup batch parity (round 8, VERDICT r7 #4): the
    events table plus a FULL duplicate copy streamed as two separate
    files (maxFilesPerTrigger=1, so the copy arrives in a LATER
    micro-batch and the suppression is genuinely cross-batch state in
    dropDuplicatesWithinWatermark) through streaming/stream.py::
    dedupe_stream must emit exactly the batch-distinct row set. The
    oracle is plain SELECT on events — duplicates are keyed by
    event_id, copies are byte-identical, and the horizon exceeds the
    data's time span, so the contract is hash-exact, not rows-only."""
    import shutil
    import uuid

    from gecko_spark.streaming.stream import dedupe_stream

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scratch")
    src = os.path.join(base, f"stream_parity_{run_id}", "src")
    ckpt = os.path.join(base, f"stream_parity_{run_id}", "ckpt")
    os.makedirs(src, exist_ok=True)
    src_file = os.path.join(sf, "events.parquet")
    shutil.copy(src_file, os.path.join(src, "batch1.parquet"))
    shutil.copy(src_file, os.path.join(src, "batch2.parquet"))
    sink = f"stream_dedupe_parity_{run_id}"
    try:
        schema = spark.read.parquet(src_file).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # watermarks require TIMESTAMP (the parquet column is NTZ);
        # session tz is pinned UTC so the cast is value-preserving, and
        # the output casts back for oracle parity
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        # emit event time as epoch micros: timestamp WIDTHS (ns vs us)
        # differ between the two engines' pandas round-trips
        deduped = dedupe_stream(stream, ["event_id"], watermark="3650 days").withColumn(
            "ts_us", F.unix_micros(F.col("ts"))
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(os.path.dirname(src), ignore_errors=True)
    return spark.table(sink).select(
        "event_id", "ts_us", "user_id", "event_type", "value", "props"
    )


_STREAM_DEDUPE_PARITY_SQL = """
-- measured watermark semantics (adversarial events fixture, r11):
-- NULL event times pass dropDuplicatesWithinWatermark through, but an
-- event time <= epoch 0 equals the INITIAL watermark and is dropped
-- as late in the very first batch - corrupt 1970 timestamps silently
-- vanish from any watermarked stream (documented in FIXTURES.md)
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
FROM (SELECT DISTINCT * FROM events)
WHERE ts IS NULL OR ts > TIMESTAMP '1970-01-01 00:00:00'
"""


def _stream_user_stats_parity(spark, sf):
    """Custom-stateful-operator batch parity (round 8): the events
    table split by event_id parity into two files streamed one per
    micro-batch — every user's history SPANS both batches, so the
    per-user running (count, max) state in streaming/stream.py::
    running_user_stats (applyInPandasWithState) genuinely accumulates
    across micro-batch boundaries. foreachBatch captures each batch's
    update rows with its batch_id; each user's LAST update must equal
    the plain batch GROUP BY. sum_value is excluded from the contract
    by design: the stateful kernel folds float64 sums in arrival order
    while SQL sums in scan order, and float addition is not
    associative — count and max are order-independent and hash-exact.
    The 3650-day watermark keeps batch-2 rows from being dropped as
    late (span > any real session's lateness bound; parity needs every
    row to reach the operator)."""
    import shutil
    import uuid

    from gecko_spark.streaming.stream import running_user_stats

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scratch", f"ustats_{run_id}"
    )
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src, exist_ok=True)
    events = spark.read.parquet(os.path.join(sf, "events.parquet"))
    captured: list = []
    try:
        # two parity halves written by Spark itself (pandas' parquet
        # timestamps clash with the NTZ schema), modification times
        # forced so the file source streams them in order (batch 0 =
        # even event_ids)
        import glob as _glob

        for i, half in enumerate((0, 1)):
            tmp = os.path.join(base, f"half{i}")
            events.filter(F.col("event_id") % 2 == half).coalesce(1).write.parquet(tmp)
            part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            p = os.path.join(src, f"batch{i}.parquet")
            shutil.move(part, p)
            os.utime(p, (1_700_000_000 + i * 100, 1_700_000_000 + i * 100))
        schema = events.schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        stats = running_user_stats(stream, watermark="3650 days")

        def _capture(batch_df, batch_id):
            bpdf = batch_df.toPandas()
            bpdf["__bid__"] = batch_id
            captured.append(bpdf)

        q = (
            stats.writeStream.outputMode("update")
            .foreachBatch(_capture)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    allb = pd.concat(captured, ignore_index=True)
    final = (
        allb.sort_values("__bid__")
        .groupby("user_id", as_index=False)
        .last()[["user_id", "n_events", "max_value"]]
    )
    return spark.createDataFrame(
        final, "user_id long, n_events long, max_value double"
    )


_STREAM_USER_STATS_PARITY_SQL = """
-- measured semantics (adversarial events fixture, r11):
-- applyInPandasWithState passes NULL event times through, DROPS NULL
-- grouping keys, and (like every watermarked op) drops event times
-- <= epoch 0 as late against the initial watermark
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events
WHERE user_id IS NOT NULL
  AND (ts IS NULL OR ts > TIMESTAMP '1970-01-01 00:00:00')
GROUP BY user_id
"""


def _stream_interval_join_parity(spark, sf):
    """Stream-stream STATEFUL-JOIN batch parity (VERDICT r8 #6 / r9
    #5): clicks and purchases streamed as two independent file sources,
    each split into two micro-batches by event_id parity with forced
    mtimes — so a click arriving in left-batch 0 must buffer in the
    join state store until its matching purchase arrives in
    right-batch 1 (and vice versa): the correlation is genuinely
    cross-batch, not a single-batch join. streaming/stream.py::
    interval_join_streams pairs each click with same-user purchases in
    [click.ts, click.ts + 60 min]; inner-join rows emit as soon as both
    sides are buffered, so availableNow flushes every pair. The oracle
    is the identical interval join as plain batch SQL — hash-exact."""
    import glob as _glob
    import shutil
    import uuid

    from gecko_spark.streaming.stream import interval_join_streams

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scratch",
        f"ijoin_{run_id}",
    )
    ckpt = os.path.join(base, "ckpt")
    events = spark.read.parquet(os.path.join(sf, "events.parquet"))
    sink = f"stream_ijoin_parity_{run_id}"
    try:
        srcs = {}
        for side, etype in (("left", "click"), ("right", "purchase")):
            src = os.path.join(base, side)
            os.makedirs(src, exist_ok=True)
            for i in (0, 1):
                tmp = os.path.join(base, f"{side}_half{i}")
                (
                    events.filter(
                        (F.col("event_type") == etype)
                        & (F.col("event_id") % 2 == i)
                    )
                    .coalesce(1)
                    .write.parquet(tmp)
                )
                part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
                p = os.path.join(src, f"batch{i}.parquet")
                shutil.move(part, p)
                os.utime(p, (1_700_000_000 + i * 100,) * 2)
            srcs[side] = src
        schema = events.schema

        def _read(side):
            s = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(srcs[side])
            )
            return s.withColumn("ts", F.col("ts").cast("timestamp"))

        joined = interval_join_streams(
            _read("left"),
            _read("right"),
            key="user_id",
            lower="0 seconds",
            upper="60 minutes",
            watermark="3650 days",
        )
        q = (
            joined.select(
                "event_id",
                "r_event_id",
                "user_id",
                F.unix_micros(F.col("ts")).alias("ts_us"),
                F.unix_micros(F.col("r_ts")).alias("r_ts_us"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.table(sink)


_STREAM_INTERVAL_JOIN_PARITY_SQL = """
SELECT l.event_id, r.event_id AS r_event_id, l.user_id,
       epoch_us(l.ts) AS ts_us, epoch_us(r.ts) AS r_ts_us
FROM events l JOIN events r
  ON r.user_id = l.user_id
 AND l.event_type = 'click' AND r.event_type = 'purchase'
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 60 MINUTE
"""


def _stream_hll_parity(spark, sf):
    """Streaming HLL batch parity (round 11): the events table streamed
    TWICE (the duplicate copy lands in a later micro-batch via
    maxFilesPerTrigger=1) through streaming/stream.py::
    hll_registers_stream — register max is idempotent, so the replayed
    data must leave every register untouched and the finalized estimate
    must equal the batch sketch bit-for-bit. The oracle replays the
    register table in SQL (same splitmix64/bitlen chain as
    sketch_hll_estimate, over events.user_id), so this is a hash-exact
    streaming contract, not rows-only."""
    import shutil
    import uuid

    from gecko_spark.streaming.stream import (
        hll_estimate_from_shards,
        hll_registers_stream,
    )

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scratch")
    root = os.path.join(base, f"stream_hll_{run_id}")
    src = os.path.join(root, "src")
    ckpt = os.path.join(root, "ckpt")
    os.makedirs(src, exist_ok=True)
    src_file = os.path.join(sf, "events.parquet")
    shutil.copy(src_file, os.path.join(src, "batch1.parquet"))
    shutil.copy(src_file, os.path.join(src, "batch2.parquet"))
    sink = f"stream_hll_parity_{run_id}"
    try:
        schema = spark.read.parquet(src_file).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        regs = hll_registers_stream(
            stream, "user_id", m=64, n_shards=4, watermark="3650 days"
        )
        q = (
            regs.writeStream.format("memory")
            .outputMode("update")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        last = (
            spark.sql(f"SELECT * FROM {sink}")
            .toPandas()
            .groupby("shard")
            .last()
            .reset_index()
        )
        out = hll_estimate_from_shards(spark.createDataFrame(last), m=64).select(
            "n_zero", "s_int", "estimate_raw"
        )
        # materialize before scratch cleanup
        pdf = out.toPandas()
    finally:
        spark.catalog.dropTempView(sink) if spark.catalog.tableExists(sink) else None
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(pdf, "n_zero long, s_int long, estimate_raw double")


def _stream_hll_parity_sql(m: int = 64) -> str:
    from gecko_spark.functions.portable_hash import sql_mix64_ctes

    p, q, factor, _, bitlen = _hll_sql_parts(m)
    # same register chain as _sketch_hll_sql, over events.user_id
    from gecko_spark.functions.portable_hash import P1, P2, sql_horner
    from gecko_spark.operators.sketches import _A1, _A2, _B1, _B2

    h1 = f"(({sql_horner('v', P1)}) * {_A1} + {_B1}) % {P1}"
    h2 = f"(({sql_horner('v', P2)}) * {_A2} + {_B2}) % {P2}"
    return f"""
WITH vals AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
), hashes AS (
  SELECT ({h1}) * {P2} + ({h2}) AS h FROM vals
),{sql_mix64_ctes('hashes', 'h', 'z')},
quot AS (
  SELECT CAST(z % {m} AS BIGINT) AS reg,
         CAST((z >> {p}) % {1 << (q - 1)} AS BIGINT) AS r
  FROM __mix6
), regs AS (
  SELECT reg, MAX({q} - {bitlen}) AS rho FROM quot GROUP BY reg
), agg AS (
  SELECT COUNT(*) AS nz,
         SUM(CAST(1 AS BIGINT) << ({q} - rho)) AS s_nz
  FROM regs
)
SELECT CAST({m} - nz AS BIGINT) AS n_zero,
       CAST(s_nz + ({m} - nz) * (CAST(1 AS BIGINT) << {q}) AS BIGINT) AS s_int,
       {factor!r} / CAST(s_nz + ({m} - nz) * (CAST(1 AS BIGINT) << {q}) AS DOUBLE)
         AS estimate_raw
FROM agg
"""


def _stream_scratch(prefix):
    """(root, src, ckpt, run_id) under scratch/ — the shared layout of
    every file-fed streaming parity contract."""
    import uuid

    run_id = uuid.uuid4().hex[:12]
    root = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scratch",
        f"{prefix}_{run_id}",
    )
    src = os.path.join(root, "src")
    os.makedirs(src, exist_ok=True)
    return root, src, os.path.join(root, "ckpt"), run_id


def _write_ordered_batches(df_batches, src):
    """Write each DataFrame as one parquet file under ``src`` with
    FORCED ascending mtimes, so the file stream source (maxFilesPerTrigger
    =1) delivers them as separate micro-batches in list order — the
    cross-batch-state device every streaming parity contract uses."""
    import glob as _glob
    import shutil

    for i, df in enumerate(df_batches):
        tmp = os.path.join(os.path.dirname(src), f"half{i}")
        df.coalesce(1).write.parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        p = os.path.join(src, f"batch{i}.parquet")
        shutil.copy(part, p)
        os.utime(p, (1_700_000_000 + i * 100,) * 2)
        shutil.rmtree(tmp, ignore_errors=True)


def _stream_pack_parity(spark, sf):
    """Streaming packing batch parity (streaming/stream.py::pack_stream):
    documents split into two id-ordered halves arriving as separate
    micro-batches; each shard's running token offset is
    applyInPandasWithState state, so batch 2's pack ids continue from
    batch 1's offsets — a broken or reset state store would restart
    every shard at pack 0 and halve the assignments. Because the halves
    arrive in id order, the stream must reproduce the BATCH
    pack_sequences assignment exactly: the contract aggregates the
    streamed (shard, pack) rows to the same manifest as the
    ``pack_sequences`` entry and grades against the SAME oracle SQL
    (portable pmod sharding, identical 512-token budget)."""
    import shutil

    from gecko_spark.operators.text import word_token_count
    from gecko_spark.streaming.stream import pack_stream

    root, src, ckpt, run_id = _stream_scratch("stream_pack")
    docs = load_table(spark, sf, "documents").select(
        "doc_id", word_token_count(F.col("text")).alias("n_tokens")
    )
    mid = docs.agg(F.expr("percentile(doc_id, 0.5)")).collect()[0][0]
    sink = f"stream_pack_parity_{run_id}"
    try:
        _write_ordered_batches(
            [docs.filter(F.col("doc_id") <= mid),
             docs.filter(F.col("doc_id") > mid)],
            src,
        )
        schema = spark.read.parquet(os.path.join(src, "batch0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        packed = pack_stream(
            stream, "doc_id", "n_tokens", budget=512, n_shards=8,
            shard_col=F.pmod(F.col("doc_id"), F.lit(8)).cast("int"),
        )
        q = (
            packed.writeStream.format("memory")
            .outputMode("append")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pdf = (
            spark.table(sink)
            .groupBy("shard", "pack")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.col("n_tokens").cast("long")).alias("n_tokens_total"),
            )
            .toPandas()
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "shard int, pack int, n_docs long, n_tokens_total long"
    )


def _stream_hh_parity(spark, sf):
    """Streaming heavy hitters batch parity (streaming/stream.py::
    heavy_hitters_stream): events split into two micro-batches, value =
    97 recurring 'u…' keys (half the rows) + one distinct 't…' key per
    remaining row — thousands of distinct values against capacity 48,
    so Misra–Gries EVICTION is active in every shard while the
    guarantee (undercount ≤ n_shard/(capacity+1) ≈ n/392 < the φ=1/250
    threshold that every heavy value clears at ~n/194) still proves no
    heavy value can be evicted. Candidates come from the LAST emission
    per shard (the `emit` ordinal device), and an exact broadcast
    recount + integer cut turns them into exact heavy hitters — equal
    to the oracle's plain GROUP BY … HAVING, the same finalization the
    batch ``sketch_heavy_hitters`` contract certifies. Counts are NOT
    idempotent, so unlike the sketch parities the two batches are
    DISJOINT halves."""
    import shutil

    from gecko_spark.streaming.stream import (
        heavy_hitters_from_shards,
        heavy_hitters_stream,
    )

    root, src, ckpt, run_id = _stream_scratch("stream_hh")
    value = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit("u"), (F.col("event_id") % 97).cast("string")),
    ).otherwise(F.concat(F.lit("t"), F.col("event_id").cast("string")))
    ev = load_table(spark, sf, "events").select(
        "ts", "event_id", value.alias("value")
    )
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).collect()[0][0]
    sink = f"stream_hh_parity_{run_id}"
    try:
        _write_ordered_batches(
            [ev.filter(F.col("event_id") <= mid),
             ev.filter(F.col("event_id") > mid)],
            src,
        )
        schema = spark.read.parquet(os.path.join(src, "batch0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        summaries = heavy_hitters_stream(
            stream, "value", capacity=48, n_shards=8,
            ts_col="ts", watermark="3650 days",
        )
        q = (
            summaries.writeStream.format("memory")
            .outputMode("update")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # materialize the sink: from_shards self-joins its input
        # (latest-emit filter), which a MemoryPlan view can't resolve
        dump = spark.createDataFrame(
            spark.table(sink).toPandas(),
            "shard int, value string, cnt long, n_shard long, emit long",
        )
        cand = heavy_hitters_from_shards(dump, 1, 250).select("value")
        n_total = ev.count()
        out = (
            ev.join(F.broadcast(cand), "value", "left_semi")
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") * 250 > F.lit(int(n_total)))
        )
        pdf = out.toPandas()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(pdf, "value string, cnt long")


_STREAM_HH_PARITY_SQL = """
WITH src AS (
  SELECT CASE WHEN event_id % 2 = 0 THEN 'u' || CAST(event_id % 97 AS VARCHAR)
              ELSE 't' || CAST(event_id AS VARCHAR) END AS value
  FROM events
),
n AS (SELECT COUNT(*) AS n_total FROM src),
cnts AS (SELECT value, COUNT(*) AS cnt FROM src GROUP BY value)
SELECT value, CAST(cnt AS BIGINT) AS cnt
FROM cnts CROSS JOIN n WHERE cnt * 250 > n_total
"""


def _stream_kmv_parity(spark, sf):
    """Streaming KMV batch parity (streaming/stream.py::
    kmv_distinct_stream): the events table streamed TWICE (the
    duplicate lands in a later micro-batch), so every hash hits state
    that already contains it — bottom-k union is idempotent and the
    finalized estimate must equal the batch sketch bit-for-bit. The
    portable kmv_hash makes the per-shard bottom-k sets — and therefore
    the merged estimate — engine-independent: the oracle replays the
    batch kmv_distinct_estimate chain over distinct user_ids, the same
    arithmetic kmv_estimate_from_shards applies to the latest per-shard
    emissions (hash-exact, not rows-only)."""
    import shutil

    from gecko_spark.streaming.stream import (
        kmv_distinct_stream,
        kmv_estimate_from_shards,
    )

    root, src, ckpt, run_id = _stream_scratch("stream_kmv")
    ev = load_table(spark, sf, "events").select(
        "ts", F.col("user_id").cast("string").alias("uid")
    )
    sink = f"stream_kmv_parity_{run_id}"
    try:
        _write_ordered_batches([ev, ev], src)
        schema = spark.read.parquet(os.path.join(src, "batch0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        sketches = kmv_distinct_stream(
            stream, "uid", k=128, n_shards=4,
            ts_col="ts", watermark="3650 days",
        )
        q = (
            sketches.writeStream.format("memory")
            .outputMode("update")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        last = (
            spark.table(sink)
            .toPandas()
            .groupby("shard")
            .last()
            .reset_index()
        )
        out = kmv_estimate_from_shards(
            spark.createDataFrame(last, "shard int, hs array<bigint>"), k=128
        )
        pdf = out.toPandas()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(pdf, "n_seen long, estimate double")


def _stream_kmv_parity_sql(k: int = 128) -> str:
    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        sql_horner,
        sql_mix64_ctes,
    )
    from gecko_spark.operators.sketches import _A1, _A2, _B1, _B2, _M

    h1 = f"(({sql_horner('v', P1)}) * {_A1} + {_B1}) % {P1}"
    h2 = f"(({sql_horner('v', P2)}) * {_A2} + {_B2}) % {P2}"
    # the batch kmv_distinct_estimate chain (cf. _sketch_kmv_sql) over
    # events.user_id — what the streamed shards must merge back to
    return f"""
WITH vals AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) AS v FROM events
), hashes AS (
  SELECT ({h1}) * {P2} + ({h2}) AS h0 FROM vals
),{sql_mix64_ctes('hashes', 'h0', 'z')},
mixed AS (
  SELECT CAST(z >> 2 AS BIGINT) AS h FROM __mix6
), topk AS (
  SELECT h FROM mixed ORDER BY h LIMIT {k}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_seen,
       CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS DOUBLE)
            ELSE {float(k - 1)!r} * CAST({_M} AS DOUBLE) / CAST(MAX(h) AS DOUBLE)
       END AS estimate
FROM topk
"""


def _stream_neardup_parity(spark, sf):
    """Streaming near-dup suppression batch parity (VERDICT r10 #3 —
    the last contract-less streaming op): the documents table, with a
    deterministic synthetic event time, streamed TWICE (the full
    duplicate copy arrives in a LATER micro-batch via
    maxFilesPerTrigger=1 + forced mtimes), through streaming/
    stream.py::neardup_dedupe_stream. Every SimHash fingerprint
    therefore appears in both micro-batches, so the suppression is
    genuinely cross-batch state in dropDuplicatesWithinWatermark — a
    broken state store would re-emit every document and double every
    group count. WHICH row of a fingerprint group survives is
    arbitrary (dropDuplicates keeps the first row encountered), so the
    contract is over the fingerprints themselves: recompute the
    64-bit SimHash of each surviving row batch-side and return one
    (fp, n_rows) group per fingerprint — n_rows must be exactly 1.
    The oracle replays the fingerprint with the same shared CTE chain
    as the batch SimHash oracle (:func:`_simhash_sh_cte`) — hash-exact."""
    import shutil
    import uuid

    from gecko_spark.operators.dedup import simhash
    from gecko_spark.streaming.stream import neardup_dedupe_stream

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scratch",
        f"neardup_{run_id}",
    )
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src, exist_ok=True)
    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    sink = f"stream_neardup_parity_{run_id}"
    try:
        import glob as _glob

        # one source file written by Spark (synthetic deterministic
        # event time rides along), duplicated as a second micro-batch
        tmp = os.path.join(base, "half")
        (
            docs.withColumn(
                "ts",
                F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id")),
            )
            .coalesce(1)
            .write.parquet(tmp)
        )
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        for i in (0, 1):
            p = os.path.join(src, f"batch{i}.parquet")
            shutil.copy(part, p)
            os.utime(p, (1_700_000_000 + i * 100,) * 2)
        schema = spark.read.parquet(os.path.join(src, "batch0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        # watermark needs TIMESTAMP; parquet round-trips NTZ and the
        # session tz is pinned UTC, so the cast is value-preserving
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        survivors = neardup_dedupe_stream(
            stream, text_col="text", ts_col="ts", watermark="3650 days"
        )
        q = (
            survivors.select("doc_id")
            .writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    emitted = spark.table(sink)
    return (
        docs.join(emitted, "doc_id")
        .select(simhash(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def _stream_neardup_parity_sql() -> str:
    return f"""
WITH {_simhash_sh_cte(64)}
SELECT DISTINCT
  CAST(CASE WHEN s >= {1 << 63} THEN s - {1 << 64} ELSE s END AS BIGINT) AS fp,
  CAST(1 AS BIGINT) AS n_rows
FROM sh
"""


_STREAM_BLOOM_BITS = 1 << 18


def _stream_decontam_bloom_parity(spark, sf):
    """Streaming decontamination through the BLOOM carrier (round 14,
    VERDICT r13 #8 — the parity family previously pinned only the
    frozenset path). streaming/stream.py::decontaminate_stream with
    ``bloom_bits_count`` folds the reference grams into a bitset
    distributedly (operators/decontam.bloom_bits) and each stream row
    runs the 6-hash membership test in an Arrow kernel. The bloom's
    decisions — INCLUDING its deterministic false positives — are
    engine-portable: gram → portable polynomial hash
    (poly_hash_strings == sql_horner) → 6 universal-hash positions mod
    2^18. The DuckDB oracle replays the positions and drops exactly
    the same documents, so the batch-built carrier and the streaming
    membership kernel are pinned hash-exact end to end; the train
    split arrives as two micro-batches so the decisions span a batch
    boundary (the kernel is stateless — parity must hold regardless)."""
    import shutil

    from gecko_spark.streaming.stream import decontaminate_stream

    root, src, ckpt, run_id = _stream_scratch("stream_decontam")
    docs = load_table(spark, sf, "documents")
    reference = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    sink = f"stream_decontam_bloom_parity_{run_id}"
    try:
        _write_ordered_batches(
            [train.filter(F.col("doc_id") % 2 == 0),
             train.filter(F.col("doc_id") % 2 == 1)],
            src,
        )
        schema = spark.read.parquet(os.path.join(src, "batch0.parquet")).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = decontaminate_stream(
            stream, reference, "doc_id", "text", n=4,
            bloom_bits_count=_STREAM_BLOOM_BITS,
        )
        q = (
            out.select("doc_id").writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        pdf = spark.table(sink).toPandas()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(pdf, "doc_id long")


def _stream_decontam_bloom_sql() -> str:
    """DuckDB replay of the bloom DECISIONS (not just the exact-join
    result): reference grams → portable hash → the 6 universal-hash
    bit positions; a train doc drops iff it has a gram whose 6
    positions are ALL present in the reference's position set —
    bit-identical to testing the broadcast bitset, since a bit is set
    iff some reference gram produced that position."""
    from gecko_spark.functions.portable_hash import P1, sql_horner
    from gecko_spark.operators.decontam import _BLOOM_K, _BLOOM_PARAMS

    nb = _STREAM_BLOOM_BITS
    params = ", ".join(f"({a}, {b})" for a, b in _BLOOM_PARAMS[:_BLOOM_K])
    h = sql_horner("gram", P1)
    return f"""
WITH {_TOKS_CTE},
grams AS ({_grams_cte(4, distinct=True)}),
params(a, b) AS (VALUES {params}),
ref_h AS (SELECT DISTINCT {h} AS h
          FROM (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0)),
ref_pos AS (SELECT DISTINCT (h * a + b) % {P1} % {nb} AS pos
            FROM ref_h CROSS JOIN params),
train_h AS (SELECT DISTINCT doc_id, {h} AS h
            FROM grams WHERE doc_id % 10 <> 0),
hits AS (
  SELECT th.doc_id
  FROM train_h th
  CROSS JOIN params p
  JOIN ref_pos rp ON (th.h * p.a + p.b) % {P1} % {nb} = rp.pos
  GROUP BY th.doc_id, th.h
  HAVING COUNT(*) = {_BLOOM_K}
)
SELECT doc_id FROM documents
WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM hits)
"""


def _stream_warc_parity(spark, sf):
    """Streaming-WARC batch parity (round 8): the committed fixture
    crawl ingested through the REAL streaming path — the custom
    DataSourceStreamReader (`sources/warc.py::WarcStreamReader`,
    offset-tracked file set, one partition per newly arrived segment,
    executor-side record parse) via readStream + availableNow — must
    yield byte-for-byte the same projection as the batch scan, graded
    against the same expected-meta oracle as `corpus_warc`."""
    import shutil
    import uuid

    from gecko_spark.sources.warc import read_warc_stream

    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scratch",
        f"warc_stream_{run_id}",
    )
    land = os.path.join(base, "land")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(land, exist_ok=True)
    shutil.copy(
        os.path.join(_FIXDIR, "corpus.warc.gz"),
        os.path.join(land, "seg-0.warc.gz"),
    )
    sink = f"stream_warc_parity_{run_id}"
    try:
        stream = read_warc_stream(spark, land, recordTypes="response")
        q = (
            stream.select(
                F.col("target_uri").alias("uri"),
                F.col("http_status").alias("status"),
                F.col("http_content_type").alias("content_type"),
                F.length(F.col("payload")).cast("bigint").alias("length"),
                F.md5(F.col("payload")).alias("body_md5"),
            )
            .writeStream.format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table(sink).toPandas()
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(
        out,
        "uri string, status int, content_type string, "
        "length bigint, body_md5 string",
    )


def _corpus_warc(spark, sf):
    """WARC (Common Crawl format) ingestion through the real Python
    DataSource scan: the committed ``corpus.warc.gz`` fixture (CC
    member-per-record gzip framing, ``tools/make_warc_fixture.py``) is
    parsed byte-by-byte executor-side — version lines, header blocks,
    Content-Length framing, HTTP envelope split — while the oracle
    replays the projection from the fixture's companion expected-meta
    parquet. A mismatch means the parser broke. Parity is byte-exact:
    md5 over the HTTP body, status/content-type from the parsed
    envelope. ``sources/warc.py``."""
    from gecko_spark.sources.warc import read_warc

    df = read_warc(
        spark, os.path.join(_FIXDIR, "corpus.warc.gz"), recordTypes="response"
    )
    return df.select(
        F.col("target_uri").alias("uri"),
        F.col("http_status").alias("status"),
        F.col("http_content_type").alias("content_type"),
        # parsed BODY size (payload_length is the WARC Content-Length,
        # i.e. the full HTTP message incl. envelope — not comparable)
        F.length(F.col("payload")).cast("bigint").alias("length"),
        F.md5(F.col("payload")).alias("body_md5"),
    )


def _text_main_content(spark, sf):
    """Main-content extraction (C4/jusText-style boilerplate-block
    removal, `text.extract_main_content`) over the construction-checked
    HTML fixture: each page's expected extraction is decided by the
    PLANTED block fates (length/link-density/heading-promotion), written
    into the fixture parquet independently of the kernel
    (tools/make_html_fixture.py) — the oracle replays the expectation,
    Spark runs the real Arrow-batched parser kernel."""
    from gecko_spark.operators.text import extract_main_content

    df = spark.read.parquet(os.path.join(_FIXDIR, "html_pages.parquet"))
    main = extract_main_content(F.col("html"))
    return df.select(
        F.col("page_id"),
        F.length(main).cast("bigint").alias("main_len"),
        F.md5(F.encode(main, "utf-8")).alias("main_md5"),
    )


_TEXT_MAIN_CONTENT_SQL = f"""
SELECT page_id, length(expected_main) AS main_len,
       md5(expected_main) AS main_md5
FROM read_parquet('{_FIXDIR}/html_pages.parquet')
"""


_CORPUS_WARC_SQL = f"""
-- DuckDB md5 is VARCHAR-only and CAST(blob AS VARCHAR) emits the
-- ESCAPED blob literal (quotes/non-ASCII become \\x..); decode() is the
-- byte-preserving blob->varchar (strict UTF-8 — every fixture body is
-- valid UTF-8 by construction), so both engines hash identical bytes
SELECT uri, status, content_type, length, md5(decode(body)) AS body_md5
FROM read_parquet('{_FIXDIR}/warc_expected.parquet')
"""


# --- DSIR importance resampling (operators/selection.py) ------------------

_DSIR_B = 1024  # hashed-feature buckets for the contract (collisions exercised)
_DSIR_SEED = 11


def _dsir_fit(spark, sf):
    from gecko_spark.operators.selection import (
        fit_log_ratio_micro,
        hashed_ngram_bucket_counts,
    )

    docs = load_table(spark, sf, "documents")
    target = docs.filter(F.col("doc_id") % 7 == 0)
    return docs, fit_log_ratio_micro(
        hashed_ngram_bucket_counts(target, n_buckets=_DSIR_B),
        hashed_ngram_bucket_counts(docs, n_buckets=_DSIR_B),
        _DSIR_B,
    )


def _dsir_log_weights(spark, sf):
    """DSIR importance log-weights (Xie et al. 2023, selection.py):
    target = docs with doc_id % 7 == 0, raw = full corpus; hashed
    unigram+bigram multinomials (B=1024, portable polyhash buckets),
    Laplace α=1; per-doc weight is the exact int64 sum of micro-log-
    ratios (half-away-from-zero ×10^6 — associative, partition-proof).
    The oracle replays the ENTIRE fit+serve chain: tokenize, gram,
    bucket, smoothed log-ratio, micro-quantize, int sum."""
    from gecko_spark.operators.selection import dsir_log_weights

    docs, lr = _dsir_fit(spark, sf)
    return dsir_log_weights(docs, lr)


def _dsir_select(spark, sf):
    """DSIR selection: Gumbel top-k over the fitted log-weights —
    sampling without replacement ∝ exp(log_weight), key =
    log_weight − ln(−ln(u)) with the portable LCG uniform, rounded to
    6 decimals, doc_id tiebreak; planned as TakeOrderedAndProject
    (per-partition top-n), never a single-partition window."""
    from gecko_spark.operators.selection import dsir_log_weights, gumbel_topk

    docs, lr = _dsir_fit(spark, sf)
    lw = dsir_log_weights(docs, lr)
    picked = gumbel_topk(
        lw, 100, LcgRandom("doc_id", seed=_DSIR_SEED), weight_col="log_weight"
    )
    return picked.select("doc_id", "lw_micro", "gumbel_key")


def _dsir_weights_cte() -> str:
    """Shared DuckDB CTE chain ending in ``doc_w(doc_id, n_grams, lw)``
    — replays selection.py's fit+serve exactly: the Unicode-word
    tokenizer, unigram+bigram grams, polyhash buckets, smoothed
    micro-log-ratio fit (LN on identical doubles, ROUND half-away as
    in fit_log_ratio_micro), exact integer doc sums."""
    from gecko_spark.functions.portable_hash import P1, sql_horner

    horner = sql_horner("gram", P1)
    return f"""toks AS (
  SELECT doc_id,
         COALESCE(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                              t -> len(t) > 0), []) AS tk
  FROM documents
), grams AS (
  SELECT doc_id, unnest(list_concat(tk,
    list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                   i -> array_to_string(tk[i:i+1], ' ')))) AS gram
  FROM toks
), buckets AS (
  SELECT doc_id, ({horner}) % {_DSIR_B} AS b FROM grams
), raw_c AS (
  SELECT b, COUNT(*) AS cr FROM buckets GROUP BY b
), tgt_c AS (
  SELECT b, COUNT(*) AS ct FROM buckets WHERE doc_id % 7 = 0 GROUP BY b
), tots AS (
  SELECT CAST((SELECT COUNT(*) FROM buckets) AS DOUBLE) AS tr,
         CAST((SELECT COUNT(*) FROM buckets WHERE doc_id % 7 = 0) AS DOUBLE) AS tt
), lrm AS (
  -- lr[b] = ln((ct+1)/(Tt+B)) - ln((cr+1)/(Tr+B)), micro-quantized
  -- half-away-from-zero: DuckDB ROUND(DOUBLE) == np.floor(abs+0.5)·sign
  SELECT r.b,
         CAST(ROUND((LN((COALESCE(t.ct, 0) + 1.0) / (tots.tt + {_DSIR_B}.0))
                   - LN((r.cr + 1.0) / (tots.tr + {_DSIR_B}.0))) * 1000000.0)
              AS BIGINT) AS lrm
  FROM raw_c r LEFT JOIN tgt_c t USING (b) CROSS JOIN tots
), doc_w AS (
  -- every gram's bucket exists in raw_c (raw = full corpus), so the
  -- join drops nothing; SUM is integer-exact (HUGEINT -> BIGINT)
  SELECT doc_id, COUNT(*) AS n_grams, CAST(SUM(lrm) AS BIGINT) AS lw
  FROM buckets JOIN lrm USING (b) GROUP BY doc_id
)"""


def _dsir_log_weights_sql() -> str:
    return f"""
WITH {_dsir_weights_cte()}
SELECT d.doc_id,
       CAST(COALESCE(w.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(COALESCE(w.lw, 0) AS BIGINT) AS lw_micro,
       CAST(COALESCE(w.lw, 0) AS DOUBLE) / 1000000.0 AS log_weight
FROM documents d LEFT JOIN doc_w w USING (doc_id)
"""


def _dsir_keyed_cte() -> str:
    """Shared DuckDB CTE tail ``weights → keyed(doc_id, lw_micro,
    gumbel_key)`` — replays selection.py::_gumbel_key exactly. The
    two-sided clamp mirrors the Spark kernel: literals are 2.0**-31
    and 1 − 2.0**-31; both are no-ops for LCG draws (k/2^31), so the
    replay is bit-identical."""
    u = lcg_uniform_sql("doc_id", _DSIR_SEED, 17)
    return f"""weights AS (
  SELECT d.doc_id, CAST(COALESCE(w.lw, 0) AS BIGINT) AS lw_micro
  FROM documents d LEFT JOIN doc_w w USING (doc_id)
), keyed AS (
  SELECT doc_id, lw_micro,
         ROUND(CAST(lw_micro AS DOUBLE) / 1000000.0
               - LN(-LN(LEAST(GREATEST({u}, 4.656612873077393e-10),
                              0.9999999995343387))), 6) AS gumbel_key
  FROM weights
)"""


def _dsir_select_sql() -> str:
    return f"""
WITH {_dsir_weights_cte()}, {_dsir_keyed_cte()}
SELECT doc_id, lw_micro, gumbel_key
FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 100
"""


_DSIR_FRAC = 0.25  # power-of-2 fraction: frac·N and CEIL are exact in
# double on BOTH engines, so the rank target can't straddle an ulp


def _dsir_select_frac(spark, sf):
    """The documented at-scale DSIR selection form
    (selection.py::gumbel_select_frac) under its EXACT threshold mode:
    keep the rows whose Gumbel key clears the exact ⌈frac·N⌉-th-largest
    key — an order statistic of the key multiset, independent of
    physical layout, computed with bounded driver traffic (bracket via
    percentile_approx, then only the O(N/accuracy) bracket rows leave
    the executors). The oracle recomputes the same order statistic with
    one global window and replays membership row-exactly — certifying
    that the bracketed three-pass threshold equals the sequential
    rank."""
    from gecko_spark.operators.selection import (
        dsir_log_weights,
        gumbel_select_frac,
    )

    docs, lr = _dsir_fit(spark, sf)
    lw = dsir_log_weights(docs, lr)
    picked = gumbel_select_frac(
        lw,
        _DSIR_FRAC,
        LcgRandom("doc_id", seed=_DSIR_SEED),
        weight_col="log_weight",
        threshold_mode="exact",
    )
    return picked.select("doc_id", "lw_micro", "gumbel_key")


def _dsir_select_frac_sql() -> str:
    return f"""
WITH {_dsir_weights_cte()}, {_dsir_keyed_cte()}, n AS (
  SELECT COUNT(*) AS n_total FROM keyed
), ranked AS (
  SELECT gumbel_key, row_number() OVER (ORDER BY gumbel_key ASC) AS rn
  FROM keyed
), thr AS (
  -- the exact ceil(frac·N)-th LARGEST key: ties share a value, so the
  -- order statistic is deterministic even though rn among ties is not
  SELECT r.gumbel_key AS t FROM ranked r, n
  WHERE r.rn = n.n_total - CAST(CEIL({_DSIR_FRAC} * n.n_total) AS BIGINT) + 1
)
SELECT doc_id, lw_micro, gumbel_key
FROM keyed WHERE gumbel_key >= (SELECT t FROM thr)
"""


def _ann_hard_negatives(spark, sf):
    """Hard-negative mining (similarity.py::hard_negative_pairs —
    the DPR/SimCSE contrastive data-prep step): for each of 4 anchors,
    the 5 most-cosine-similar vectors with a DIFFERENT label
    (IS DISTINCT FROM semantics), label-filtered BEFORE the top-k
    window so every anchor gets true negatives. Broadcast anchors,
    one corpus scan, JVM fold cosine."""
    from gecko_spark.operators.similarity import hard_negative_pairs

    emb = load_table(spark, sf, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 4)
    return hard_negative_pairs(
        emb, anchors, k=5, corpus_rows=None, anchor_rows=4,
        max_scored_rows=None,
    ).select("anchor_id", "vec_id", "rank")


_ANN_HARD_NEGATIVES_SQL = """
WITH a AS (
  SELECT vec_id AS anchor_id, embedding AS av, label AS a_label
  FROM embeddings WHERE vec_id < 4
),
scored AS (
  SELECT a.anchor_id, e.vec_id,
         CASE WHEN list_dot_product(e.embedding, e.embedding) = 0
                OR list_dot_product(a.av, a.av) = 0 THEN 0.0
              ELSE list_cosine_similarity(e.embedding, a.av) END AS cos
  FROM embeddings e CROSS JOIN a
  WHERE e.label IS DISTINCT FROM a.a_label
)
SELECT anchor_id, vec_id, CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT anchor_id, vec_id,
         row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, vec_id) AS rnk
  FROM scored
)
WHERE rnk <= 5
"""


def _sketch_kmv_overlap(spark, sf):
    """KMV set-operation estimates (sketches.py::kmv_overlap_estimate,
    Beyer et al. 2007): Jaccard / union / intersection of the R-flag vs
    A-flag partkey sets from two k=256 sketches — the corpus-overlap
    audit through 2k rows of state, no shuffle of either side. The
    portable mixed hash makes even the merged order statistics
    engine-exact, so the oracle replays the APPROXIMATE answer
    bit-for-bit."""
    from gecko_spark.operators.sketches import kmv_overlap_estimate, kmv_sketch

    li = load_table(spark, sf, "lineitem")
    a = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_partkey").cast("string").alias("v")
    )
    b = li.filter(F.col("l_returnflag") == "A").select(
        F.col("l_partkey").cast("string").alias("v")
    )
    return kmv_overlap_estimate(
        kmv_sketch(a, "v", 256), kmv_sketch(b, "v", 256), 256
    )


def _sketch_kmv_overlap_sql(k: int = 256) -> str:
    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        sql_horner,
        sql_mix64_ctes,
    )
    from gecko_spark.operators.sketches import _A1, _A2, _B1, _B2, _M

    h1 = f"(({sql_horner('v', P1)}) * {_A1} + {_B1}) % {P1}"
    h2 = f"(({sql_horner('v', P2)}) * {_A2} + {_B2}) % {P2}"
    # one tagged hash chain (the mix CTE names are fixed, so both
    # sides share it and split afterwards by the tag)
    return f"""
WITH vals AS (
  SELECT DISTINCT 'R' AS s, CAST(l_partkey AS VARCHAR) AS v
  FROM lineitem WHERE l_returnflag = 'R'
  UNION ALL
  SELECT DISTINCT 'A' AS s, CAST(l_partkey AS VARCHAR) AS v
  FROM lineitem WHERE l_returnflag = 'A'
), hashes AS (
  SELECT s, ({h1}) * {P2} + ({h2}) AS h0 FROM vals
),{sql_mix64_ctes('hashes', 'h0', 'z')},
mixed AS (
  SELECT s, CAST(z >> 2 AS BIGINT) AS h FROM __mix6
), ska AS (
  SELECT DISTINCT h FROM mixed WHERE s = 'R' ORDER BY h LIMIT {k}
), skb AS (
  SELECT DISTINCT h FROM mixed WHERE s = 'A' ORDER BY h LIMIT {k}
), merged AS (
  SELECT DISTINCT h FROM (SELECT h FROM ska UNION ALL SELECT h FROM skb)
  ORDER BY h LIMIT {k}
), stats AS (
  SELECT COUNT(*) AS n_seen, MAX(h) AS h_k,
         (SELECT COUNT(*) FROM merged
          WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb))
         AS n_common,
         (SELECT COUNT(*) FROM ska) AS n_a,
         (SELECT MAX(h) FROM ska) AS h_ka,
         (SELECT COUNT(*) FROM skb) AS n_b,
         (SELECT MAX(h) FROM skb) AS h_kb
  FROM merged
)
SELECT CAST(n_seen AS BIGINT) AS n_seen,
       CAST(n_common AS BIGINT) AS n_common,
       {_kmv_jacc_sql()} AS jaccard,
       {_kmv_est_sql('n_seen', 'h_k', k)} AS union_est,
       {_kmv_int_sql(k)} AS intersect_est,
       {_kmv_est_sql('n_a', 'h_ka', k)} AS est_a,
       {_kmv_est_sql('n_b', 'h_kb', k)} AS est_b,
       CASE WHEN {_kmv_est_sql('n_a', 'h_ka', k)} > 0
            THEN {_kmv_int_sql(k)} / {_kmv_est_sql('n_a', 'h_ka', k)}
            ELSE 0.0 END AS containment_a,
       CASE WHEN {_kmv_est_sql('n_b', 'h_kb', k)} > 0
            THEN {_kmv_int_sql(k)} / {_kmv_est_sql('n_b', 'h_kb', k)}
            ELSE 0.0 END AS containment_b
FROM stats
"""


def _kmv_est_sql(n: str, hk: str, k: int) -> str:
    from gecko_spark.operators.sketches import _M

    return (
        f"(CASE WHEN {n} < {k} THEN CAST({n} AS DOUBLE) "
        f"ELSE {float(k - 1)!r} * CAST({_M} AS DOUBLE) / CAST({hk} AS DOUBLE) END)"
    )


def _kmv_jacc_sql() -> str:
    return (
        "(CASE WHEN n_seen > 0 "
        "THEN CAST(n_common AS DOUBLE) / CAST(n_seen AS DOUBLE) "
        "ELSE 0.0 END)"
    )


def _kmv_int_sql(k: int) -> str:
    return f"({_kmv_jacc_sql()} * {_kmv_est_sql('n_seen', 'h_k', k)})"


def _pack_global_shards(spark, sf):
    """Globally-contiguous token-budget shards
    (packing.py::global_token_shards): the distributed two-phase prefix
    sum (per-bucket windows + broadcast offsets, no single-partition
    stage) whose assignment the oracle replays with ONE sequential
    global window — the green row certifies two-phase == sequential."""
    from gecko_spark.operators.packing import global_token_shards
    from gecko_spark.operators.text import word_token_count

    docs = load_table(spark, sf, "documents").select(
        "doc_id", word_token_count(F.col("text")).alias("n_tokens")
    )
    return global_token_shards(
        docs, "doc_id", "n_tokens", budget=2048,
        rand=LcgRandom("doc_id", seed=31), buckets=16,
    )


def _pack_global_shards_sql(budget: int = 2048) -> str:
    from gecko_spark.operators.packing import _SALT_GSHARD

    u = lcg_uniform_sql("doc_id", 31, _SALT_GSHARD)
    return f"""
WITH toked AS (
  SELECT doc_id,
         CAST(len(COALESCE(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                                       t -> len(t) > 0), [])) AS INTEGER) AS n_tokens,
         {u} AS u
  FROM documents
), seq AS (
  SELECT doc_id, n_tokens,
         SUM(CAST(n_tokens AS BIGINT)) OVER w - n_tokens AS gstart
  FROM toked
  WINDOW w AS (ORDER BY u, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT doc_id, n_tokens, CAST(gstart AS BIGINT) AS gstart,
       CAST(gstart // {budget} AS BIGINT) AS gshard
FROM seq
"""


def _pack_texts(spark, sf):
    """Materialized training sequences (packing.py::pack_texts): the
    (shard, pack) assignment turned into the actual concatenated text
    a trainer reads — members stitched in id order via
    array_sort(collect_list(struct)) with NULL text as '', one shuffle.
    Compared by md5 + length so the contract stays scalar."""
    from gecko_spark.operators.packing import pack_sequences, pack_texts
    from gecko_spark.operators.text import word_token_count

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "text", word_token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(
        docs, "doc_id", "n_tokens", budget=512, n_shards=8,
        shard_col=F.pmod(F.col("doc_id"), F.lit(8)).cast("int"),
    )
    seqs = pack_texts(packed, "doc_id", "text", sep="\n")
    return seqs.select(
        "shard", "pack",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.length("text").cast("long").alias("text_len"),
        F.md5(F.encode("text", "utf-8")).alias("text_md5"),
    )


_PACK_TEXTS_SQL = """
WITH toked AS (
  SELECT doc_id, text,
         CAST(len(COALESCE(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                                       t -> len(t) > 0), [])) AS INTEGER) AS n_tokens,
         CAST(doc_id % 8 AS INTEGER) AS shard
  FROM documents
), packed AS (
  SELECT shard,
         CAST((SUM(CAST(n_tokens AS BIGINT)) OVER w - n_tokens) // 512 AS INTEGER)
           AS pack,
         doc_id, text
  FROM toked
  WINDOW w AS (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), seqs AS (
  SELECT shard, pack, COUNT(*) AS n_docs,
         string_agg(COALESCE(text, ''), chr(10) ORDER BY doc_id) AS text
  FROM packed GROUP BY shard, pack
)
SELECT shard, pack, CAST(n_docs AS BIGINT) AS n_docs,
       CAST(length(text) AS BIGINT) AS text_len,
       md5(text) AS text_md5
FROM seqs
"""


def _sample_mix_tokens(spark, sf):
    """TOKEN-weighted corpus mixing (sampling.py::mix_corpus_tokens):
    a 2:1:1 en/de/es TOKEN mixture — what pretraining mixes actually
    specify; row-weighted mix_corpus would skew it whenever domains
    have different document lengths. Integer-exact token caps, greedy
    seeded-hash-order prefix per stratum, membership replayed exactly."""
    from gecko_spark.operators.sampling import mix_corpus_tokens
    from gecko_spark.operators.text import word_token_count

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang",
        word_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return mix_corpus_tokens(
        docs, "lang", "n_tokens", {"en": 2, "de": 1, "es": 1},
        rand=LcgRandom("doc_id", 271), tiebreak="doc_id",
    )


def _sample_mix_tokens_sql() -> str:
    u = lcg_uniform_sql("doc_id", 271, 11, stream=0)
    return f"""
WITH toked AS (
  SELECT doc_id, lang,
         CAST(len(COALESCE(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                                       t -> len(t) > 0), [])) AS BIGINT) AS n_tokens
  FROM documents WHERE lang IN ('en', 'de', 'es')
), sums AS (
  SELECT lang AS g, SUM(n_tokens) AS s FROM toked GROUP BY lang
),
wts(g, w) AS (VALUES ('en', 2), ('de', 1), ('es', 1)),
t AS (SELECT MIN(s * 4 // w) AS t FROM sums JOIN wts USING (g)),
caps AS (SELECT g, (SELECT t FROM t) * w // 4 AS cap FROM wts),
cum AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY {u}, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ci
  FROM toked
)
SELECT doc_id, lang, n_tokens
FROM cum JOIN caps ON cum.lang = caps.g
WHERE ci <= cap
"""


def _sample_mix_temperature(spark, sf):
    """Temperature-weighted token mixing (sampling.py::
    mix_corpus_temperature — the mT5/XLM-R recipe, α = 1/T): weights
    w_g ∝ S_g^0.5 derived from the EXACT per-lang token totals, then
    the same integer cap algebra + greedy seeded prefix as
    sample_mix_tokens. α = 0.5 is the oracle-portable point — IEEE
    mandates correctly-rounded sqrt, so DuckDB recomputes bit-identical
    micro-quantized weights from the same integer totals; the whole
    chain (totals → weights → caps → membership) replays exactly."""
    from gecko_spark.operators.sampling import mix_corpus_temperature
    from gecko_spark.operators.text import word_token_count

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang",
        word_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return mix_corpus_temperature(
        docs, "lang", "n_tokens",
        rand=LcgRandom("doc_id", 277), alpha=0.5, tiebreak="doc_id",
    )


def _sample_mix_temperature_sql() -> str:
    u = lcg_uniform_sql("doc_id", 277, 11, stream=0)
    return f"""
WITH toked AS (
  SELECT doc_id, lang,
         CAST(len(COALESCE(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                                       t -> len(t) > 0), [])) AS BIGINT) AS n_tokens
  FROM documents WHERE lang IS NOT NULL
), sums AS (
  SELECT lang AS g, SUM(n_tokens) AS s FROM toked GROUP BY lang
), wts AS (
  -- w_g = floor(sqrt(S_g)·10^6 + 0.5): sqrt is IEEE exact-rounded, so
  -- these ints equal Python's temperature_weights(alpha=0.5) exactly
  SELECT g, s, CAST(FLOOR(SQRT(CAST(s AS DOUBLE)) * 1000000.0 + 0.5)
               AS BIGINT) AS w
  FROM sums WHERE s > 0
), tw AS (SELECT SUM(w) AS tot FROM wts),
t AS (
  SELECT MIN(CAST(s AS HUGEINT) * (SELECT tot FROM tw) // w) AS t FROM wts
), caps AS (
  SELECT g, CAST((SELECT t FROM t) * w // (SELECT tot FROM tw) AS BIGINT)
           AS cap
  FROM wts
), cum AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY {u}, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ci
  FROM toked JOIN wts ON toked.lang = wts.g
)
SELECT doc_id, lang, n_tokens
FROM cum JOIN caps ON cum.lang = caps.g
WHERE ci <= cap
"""


def _sample_mix_temperature_q25(spark, sf):
    """Temperature mixing at α = 0.25 (round 13, VERDICT r12 #7): the
    second IEEE-exact point — S^0.25 is DEFINED as sqrt(sqrt(S)), two
    correctly-rounded sqrts that DuckDB replays bit-identically — so
    the contract now pins the ALPHA-GENERALITY of the integer cap
    algebra (totals → weights → caps → greedy seeded prefix), not one
    magic α. Flatter than α = 0.5: small langs get relatively larger
    caps, so the kept set genuinely differs from the q=0.5 contract
    (different seed too)."""
    from gecko_spark.operators.sampling import mix_corpus_temperature
    from gecko_spark.operators.text import word_token_count

    docs = load_table(spark, sf, "documents").select(
        "doc_id", "lang",
        word_token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return mix_corpus_temperature(
        docs, "lang", "n_tokens",
        rand=LcgRandom("doc_id", 283), alpha=0.25, tiebreak="doc_id",
    )


def _sample_mix_temperature_q25_sql() -> str:
    u = lcg_uniform_sql("doc_id", 283, 11, stream=0)
    return f"""
WITH toked AS (
  SELECT doc_id, lang,
         CAST(len(COALESCE(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                                       t -> len(t) > 0), [])) AS BIGINT) AS n_tokens
  FROM documents WHERE lang IS NOT NULL
), sums AS (
  SELECT lang AS g, SUM(n_tokens) AS s FROM toked GROUP BY lang
), wts AS (
  -- w_g = floor(sqrt(sqrt(S_g))·10^6 + 0.5): each sqrt is IEEE
  -- exact-rounded, so these ints equal temperature_weights(alpha=0.25)
  SELECT g, s, CAST(FLOOR(SQRT(SQRT(CAST(s AS DOUBLE))) * 1000000.0 + 0.5)
               AS BIGINT) AS w
  FROM sums WHERE s > 0
), tw AS (SELECT SUM(w) AS tot FROM wts),
t AS (
  SELECT MIN(CAST(s AS HUGEINT) * (SELECT tot FROM tw) // w) AS t FROM wts
), caps AS (
  SELECT g, CAST((SELECT t FROM t) * w // (SELECT tot FROM tw) AS BIGINT)
           AS cap
  FROM wts
), cum AS (
  SELECT doc_id, lang, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY {u}, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ci
  FROM toked JOIN wts ON toked.lang = wts.g
)
SELECT doc_id, lang, n_tokens
FROM cum JOIN caps ON cum.lang = caps.g
WHERE ci <= cap
"""


def _text_sentence_chunks(spark, sf):
    """Sentence-boundary chunking (text.py::sentence_chunks): the
    curation-grade chunker — every boundary is a sentence boundary,
    offset-packed by integer arithmetic (regexp extraction → per-doc
    cumsum → ordered re-concatenation), chunk text compared by
    md5+length to stay scalar. The \\z-not-$ anchor keeps Java and RE2
    splitting newline-terminated docs identically."""
    from gecko_spark.operators.text import sentence_chunks

    docs = load_table(spark, sf, "documents")
    out = sentence_chunks(docs, max_chars=120)
    return out.select(
        "doc_id", "chunk_id", "n_sentences",
        F.length("chunk").cast("long").alias("chunk_len"),
        F.md5(F.encode("chunk", "utf-8")).alias("chunk_md5"),
    )


def _text_sentence_chunks_sql(max_chars: int = 120) -> str:
    from gecko_spark.operators.text import _SENTENCE_RE

    return f"""
WITH base AS (
  SELECT doc_id,
         regexp_extract_all(COALESCE(text, ''), '{_SENTENCE_RE}') AS ss
  FROM documents
), sents AS (
  SELECT doc_id, u.x.i AS s_idx, u.x.s AS s
  FROM base,
       UNNEST(list_transform(range(1, len(ss) + 1),
                             i -> struct_pack(i := i, s := ss[i]))) AS u(x)
), offs AS (
  SELECT doc_id, s_idx, s,
         SUM(length(s)) OVER (PARTITION BY doc_id ORDER BY s_idx
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - length(s) AS start
  FROM sents
), chunks AS (
  SELECT doc_id, start // {max_chars} AS chunk_id,
         COUNT(*) AS n_sentences,
         string_agg(s, '' ORDER BY s_idx) AS chunk
  FROM offs GROUP BY doc_id, start // {max_chars}
), backfill AS (
  SELECT d.doc_id, CAST(0 AS BIGINT) AS chunk_id,
         CAST(0 AS BIGINT) AS n_sentences, '' AS chunk
  FROM documents d LEFT JOIN (SELECT DISTINCT doc_id FROM chunks) c
    ON d.doc_id = c.doc_id
  WHERE c.doc_id IS NULL
), unioned AS (
  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         CAST(n_sentences AS BIGINT) AS n_sentences, chunk FROM chunks
  UNION ALL SELECT * FROM backfill
)
SELECT doc_id, chunk_id, n_sentences,
       CAST(length(chunk) AS BIGINT) AS chunk_len,
       md5(chunk) AS chunk_md5
FROM unioned
"""


# The driver-graded window: the driver evaluates the FIRST 50 dict
# entries of queries(). Rotation history: r02 graded the §2 operator
# surface, r04 the relational/LLM-ops surface, r05 the round-5
# additions, r06 the r02-stale mutators + relational refresh, r07 the
# round-7-touched code + r04-stale re-grades. Round 8 (VERDICT r7 #5/#7):
# (a) code touched or ADDED in round 8 — three multimodal oracle
# queries, three streaming parity queries (dedupe, custom-stateful
# user stats, streaming WARC ingestion), the WARC scan and
# main-content-extraction entries, the incremental-index dedupe, and
# the three dedup entries whose cache-adoption internals changed;
# (b) all 19 queries whose newest driver grade is r5; (c) 19 of the
# 47 r6-graded entries (TPC-H catalogue, the linkage trio,
# q_window_topk_orders; q_set_ops, q_events_hourly, q_events_sessions,
# q16_supplier_cnt, q20_qty_threshold and q22_global_sales_opportunity
# yielded their slots to the round-8 additions and re-grade in r9).
# Round 10 rotated in the r6-stale mutator/relational surface plus the
# round-10 additions (substring dedup, IVFADC, trained classifier,
# interval-join parity). Round 11 rotates in the 39 remaining r7-graded
# entries + the round-11-touched code (stream_neardup_parity NEW,
# similarity rerank restructure, warc resync, substring hardening) +
# the four round-11 additions (HLL ×2, Z-order key, BPE training) —
# after this round no query's newest driver grade is older than r9.
# Four slots that held entries ALREADY graded r9/r10 whose round-11
# code-touch is covered by a remaining sibling yielded to the new
# entries: topk_cosine_ivf (r9; the r11 similarity diffs touch only
# the pq/ivfpq paths, graded via topk_cosine_ivfpq),
# dedup_substring_winnowed (r10; the hardened shared kernel is graded
# via spans/clean/incr/incr_clean), stream_warc_parity (r9; the
# resync fix is graded via corpus_warc), q3_shipping_priority (r9,
# untouched).
# Round-11 extension: the two NEW DSIR entries (dsir_log_weights,
# dsir_select — operators/selection.py) take the q7_nation_volume and
# q10_returned_items slots: those two are plain-DataFrame TPC-H shapes
# that exercise Spark's own relational engine, not package code (no
# gecko_spark import in either), and they stay in the 152-entry local
# gate at all three SFs; new-operator hard signals outrank a re-grade
# of untouched built-in SQL. (q_cube_flag_status, q_json_props and
# q_percentile_price later yielded their slots to ann_hard_negatives,
# sketch_kmv_overlap and pack_global_shards under the same rationale.)
# queries() is BUILT
# from this list + the catalogue, with overlap asserts, so the window
# can never silently diverge from the catalogue (a duplicate key in
# the old dict literal would have collapsed silently).
WINDOW_50 = [
    # Round 14 (VERDICT r13 #2): rotate the ENTIRE remaining r10 tail
    # in — after this round the oldest driver grade anywhere is r11.
    # --- (a) the 29 r10-graded entries (grade map recomputed over
    # CORRECTNESS_r01..r13) + mm_audio_quarantine (landed after the
    # r13 window froze; never driver-graded, 3-SF-verified locally) ---
    "mm_audio_quarantine",
    "decontam_filter_bloom",
    "dedup_exact",
    "dedup_semantic_pairs",
    "dedup_substring_incr",
    "dedup_substring_winnowed",
    "mut_lowercase",
    "mut_repeat",
    "mut_uppercase",
    "q4_priority_exists",
    "q16_supplier_cnt",
    "q20_qty_threshold",
    "q22_global_sales_opportunity",
    "q_anti_join",
    "q_semi_join",
    "q_range_join",
    "q_rollup_region_nation",
    "q_set_ops",
    "q_events_hourly",
    "q_events_sessions",
    "stream_interval_join_parity",
    "text_bigram_logprob",
    "text_bpe_tokens",
    "text_c4_clean",
    "text_classifier_trained",
    "text_gopher_quality",
    "text_gopher_repetition",
    "text_ppl_buckets",
    "text_tfidf_top3",
    "topk_cosine_bruteforce",
    # --- (b) NEW round-14 contracts: the streaming bloom-carrier
    # decontamination parity (VERDICT r13 #8) and the video-path
    # quarantine twin (VERDICT r13 #4) ---
    "stream_decontam_bloom_parity",
    "mm_video_quarantine",
    # --- (c) code touched in round 14 — regrade: warc.py's bounded
    # resync + FLG header validation (ADVICE r13), dedup.py's
    # legal-build-side broadcast carve-out in _plan_has_shuffle
    # (ADVICE r13, through the three ensure_parallelism call sites)
    # and the driver union-find CC fast path (VERDICT r13 #3 — every
    # connected_components consumer) ---
    "corpus_warc",
    "stream_warc_parity",
    "dedup_minhash_pairs",
    "dedup_simhash_pairs",
    "dedup_substring_spans",
    "dedup_transitive",
    "dedup_cluster_reps",
    "dedup_groups",
    # --- (d) the 10 oldest r11-graded package-code entries, so the
    # r11 tail starts rotating out too (generator core G2-G6, the two
    # r11-graded mutators, two sketch estimators, one stateful
    # streaming parity) ---
    "gen_uniform",
    "gen_normal",
    "gen_freq_single",
    "gen_freq_multi",
    "gen_datetime",
    "mut_insert",
    "mut_function",
    "sketch_hll_estimate",
    "sketch_cm_estimate",
    "stream_neardup_parity",
]

_WINDOW_50_RETIRED_R12 = [
    # Round 12 (VERDICT r11 #1/#3/#4/#5): clear ALL grading residue —
    # after this round no catalogue entry is never-graded and nothing
    # carries a grade older than r9 except the 18 slots documented in
    # group (d) below (15 plain-Spark TPC-H shapes + 3 kernel-covered
    # siblings), which rotate in r13.
    # --- (a) round-12 NEW contracts + the two never-driver-graded
    # round-11 entries (VERDICT r11 #1) ---
    "dsir_select_frac",           # NEW: at-scale DSIR selection, EXACT
                                  # rank threshold (VERDICT r11 #4)
    "topk_cosine_opq",            # NEW: OPQ serving path — rotate +
                                  # IVFADC + rerank (VERDICT r11 #3)
    "stream_pack_parity",         # NEW: streaming packing == batch
    "stream_hh_parity",           # NEW: MG stream + exact recount
    "stream_kmv_parity",          # NEW: streamed-twice KMV bit-parity
    "text_sentence_chunks",       # round-11 addition, never graded
    "text_unicode_normalize",     # round-11 addition, never graded
    # --- (b) the seven r7-stale entries (VERDICT r11 #1): the six
    # plain-Spark relational shapes that yielded slots across rounds
    # 10-11 plus sketch_cm_counts (package code — sketches.py) ---
    "sketch_cm_counts",
    "q7_nation_volume",
    "q10_returned_items",
    "q_cube_flag_status",
    "q_distinct_counts",
    "q_json_props",
    "q_percentile_price",
    # --- (c) code touched in round 12 — re-grade: the gumbel-key
    # two-sided clamp + oracle mirror (dsir_select), the KMV overlap
    # up-front truncation, and the non-negative token-count clamps in
    # packing/sampling. topk_cosine_ivfpq's oracle refactor yielded
    # its slot (render verified byte-identical in-repo; the shared SQL
    # body is driver-graded through topk_cosine_opq above). ---
    "dsir_select",
    "sketch_kmv_overlap",
    "sample_mix_tokens",
    "pack_global_shards",
    "pack_sequences",
    "q_linkage_jw",            # oracle rewritten round 12 (char-safe
    "q_linkage_soundex",       # remap) — r11 grades no longer cover
                               # the shipped SQL; they take the
                               # text_chunks and text_url_normalize
                               # slots (trivial slice/regex kernels,
                               # documents-fixtured in the local gate)
    # --- (d) the 29 oldest-graded (r9) PACKAGE-CODE entries. The 20
    # r9 entries left out: the 15 plain-DataFrame TPC-H shapes
    # (q2,q3,q5,q8,q9,q11,q12,q13,q14,q15,q17,q18,q19,q21,
    # q_window_topk_orders — no gecko_spark import; all stay in the
    # 3-SF local gate) and five whose kernels are driver-graded
    # through siblings this round: sketch_kmv_distinct (same chain as
    # sketch_kmv_by_group r11 + stream_kmv_parity NEW),
    # text_chunks/text_chunks_tokens/text_url_normalize (trivial
    # slice/regex arithmetic, documents-fixtured in the local +
    # adversarial gates; their slots went to the two changed-oracle
    # linkage entries above), sample_shuffle (sampling module graded
    # via reservoir/split r11 + mix_tokens r12). All 20 rotate in
    # r13. ---
    "mm_image_features",
    "mm_audio_features",
    "mm_video_frames",
    "stream_dedupe_parity",
    "stream_user_stats_parity",
    "stream_warc_parity",
    "text_main_content",
    "q_linkage_blocked",
    "q_linkage_snm",
    "q_linkage_fs",
    "dedup_groups",
    "dedup_incremental_index",
    "dedup_simhash_pairs",
    "dedup_cluster_reps",
    "dedup_transitive",
    "sample_weighted_n",
    "sample_stratified",
    "sample_mix_temperature",     # NEW round 12: temperature mixing
                                  # (takes the sample_mix_corpus slot —
                                  # the mixture machinery is graded via
                                  # sample_mix_tokens in-window; the
                                  # row-weighted variant stays in the
                                  # local + adversarial gates)
    "topk_cosine_ivf",
    "text_bm25_topk",             # NEW round 12: BM25 retrieval
                                  # (takes the text_unigram_logprob
                                  # slot — its log-prob chain is
                                  # graded via text_bigram_logprob
                                  # r10; stays in the local gate)
    "bm25_hard_negatives",        # NEW round 12: DPR lexical negatives
                                  # (takes the sample_split_grouped
                                  # slot — the sampling family holds
                                  # three other in-window slots:
                                  # weighted_n, stratified, mix_corpus)
    "text_line_dedupe",
    "text_quality_classifier",    # also the r11 bench-regression
                                  # suspect — regrade with the A/B'd
                                  # serving path (task #2)
    "text_strip_html",
    "text_vocab_divergence",
    "doc_normalize_filter",
    "doc_fingerprints",
    "sketch_quantiles",
    "sketch_quantiles_by_group",
]

# Full catalogue as (name, fn) PAIRS — a list, not a dict literal, so a
# duplicated name is detectable (dict literals silently keep the last
# binding). Order beyond the window is stable but not significant.
_CATALOGUE_PAIRS: "list[tuple[str, Callable[[SparkSession, str], DataFrame]]]" = [
    # round-8 additions
    ("mm_image_features", _mm_image_features),
    ("mm_audio_features", _mm_audio_features),
    ("mm_video_frames", _mm_video_frames),
    ("stream_dedupe_parity", _stream_dedupe_parity),
    ("stream_user_stats_parity", _stream_user_stats_parity),
    ("stream_interval_join_parity", _stream_interval_join_parity),
    ("stream_neardup_parity", _stream_neardup_parity),
    ("stream_hll_parity", _stream_hll_parity),
    ("stream_pack_parity", _stream_pack_parity),
    ("stream_hh_parity", _stream_hh_parity),
    ("stream_kmv_parity", _stream_kmv_parity),
    ("corpus_warc", _corpus_warc),
    ("stream_warc_parity", _stream_warc_parity),
    ("text_main_content", _text_main_content),
    # generators
    ("gen_function", _gen_function),
    ("gen_uniform", _gen_uniform),
    ("gen_normal", _gen_normal),
    ("gen_freq_single", _gen_freq_single),
    ("gen_freq_multi", _gen_freq_multi),
    ("gen_datetime", _gen_datetime),
    ("gen_group", _gen_group),
    ("gen_group_exact", _gen_group_exact),
    ("gen_datasource", _gen_datasource),
    # mutators
    ("mut_chain", _mut_chain),
    ("mut_function", _mut_function),
    ("mut_group", _mut_group),
    ("mut_cldr_keymap", _mut_cldr),
    ("mut_insert", _mut_insert),
    ("mut_missing_value", _mut_missing),
    ("mut_generator_splice", _mut_splice),
    ("mut_permute", _mut_permute),
    ("mut_datetime_offset", _mut_datetime_offset),
    ("mut_categorical", _mut_categorical),
    ("mut_repeat", _mut_repeat),
    ("mut_delete", _mut_delete),
    ("mut_substitute", _mut_substitute),
    ("mut_transpose", _mut_transpose),
    ("mut_lowercase", _mut_lowercase),
    ("mut_uppercase", _mut_uppercase),
    ("mut_missing_strict_p", _mut_missing_strict),
    ("mut_replacement_inline", _mut_replacement_inline),
    ("mut_replacement_whole", _mut_replacement_whole),
    ("mut_phonetic", _mut_phonetic),
    ("mut_regex", _mut_regex),
    # TPC-H-ish relational catalogue
    ("q1_pricing_summary", _q1),
    ("q2_min_cost_supplier", _q2),
    ("q3_shipping_priority", _q3),
    ("q4_priority_exists", _q4),
    ("q5_region_revenue", _q5),
    ("q6_revenue_filter", _q6),
    ("q7_nation_volume", _q7),
    ("q8_market_share", _q8),
    ("q9_product_profit", _q9),
    ("q10_returned_items", _q10),
    ("q11_important_stock", _q11),
    ("q12_shipmode_priority", _q12),
    ("q13_order_histogram", _q13),
    ("q14_promo_share", _q14),
    ("q15_top_supplier", _q15),
    ("q16_supplier_cnt", _q16),
    ("q17_small_qty_revenue", _q17),
    ("q18_large_volume", _q18),
    ("q19_branch_revenue", _q19),
    ("q20_qty_threshold", _q20),
    ("q21_waiting_supplier", _q21),
    ("q22_global_sales_opportunity", _q22),
    # joins / windows / relational extras
    ("q_window_topk_orders", _q_topk),
    ("q_events_hourly", _q_events_hourly),
    ("q_events_sessions", _q_events_sessions),
    ("q_anti_join", _q_anti_join),
    ("q_semi_join", _q_semi_join),
    ("q_rollup_region_nation", _q_rollup),
    ("q_set_ops", _q_set_ops),
    ("q_range_join", _q_range_join),
    ("q_asof_join", _q_asof_join),
    ("q_skew_join", _q_skew_join),
    ("q_cube_flag_status", _q_cube),
    ("q_distinct_counts", _q_distinct_counts),
    ("q_json_props", _q_json_props),
    ("q_percentile_price", _q_percentiles),
    # record linkage
    ("q_linkage_blocked", _q_linkage_blocked),
    ("q_linkage_snm", _q_linkage_snm),
    ("q_linkage_jw", _q_linkage_jw),
    ("q_linkage_fs", _q_linkage_fs),
    ("q_linkage_soundex", _q_linkage_soundex),
    # dedup
    ("dedup_exact", _dedup_exact),
    ("dedup_groups", _dedup_groups),
    ("dedup_minhash_pairs", _dedup_minhash),
    ("dedup_incremental_index", _dedup_incremental),
    ("dedup_substring_spans", _dedup_substring_spans),
    ("dedup_substring_clean", _dedup_substring_clean),
    ("dedup_substring_winnowed", _dedup_substring_winnowed),
    ("dedup_substring_incr", _dedup_substring_incr),
    ("dedup_substring_incr_clean", _dedup_substring_incr_clean),
    ("dedup_simhash_pairs", _dedup_simhash),
    ("dedup_ngram_jaccard", _dedup_jaccard),
    ("dedup_embedding_pairs", _dedup_embedding),
    ("dedup_semantic_pairs", _dedup_semantic),
    ("dedup_fp_overlap", _dedup_fp_overlap),
    ("dedup_cluster_reps", _dedup_cluster_reps),
    ("dedup_transitive", _dedup_transitive),
    # decontamination
    ("decontam_filter", _decontam_filter),
    ("decontam_overlap", _decontam_overlap),
    ("decontam_filter_bloom", _decontam_filter_bloom),
    # sampling
    ("sample_reservoir_n", _sample_reservoir),
    ("sample_split", _sample_split),
    ("sample_weighted_n", _sample_weighted),
    ("sample_stratified", _sample_stratified),
    ("sample_split_grouped", _sample_split_grouped),
    ("sample_shuffle", _sample_shuffle),
    ("sample_mix_corpus", _sample_mix_corpus),
    # similarity / embeddings
    ("topk_cosine_bruteforce", _topk_cosine),
    ("topk_cosine_ivf", _topk_ivf),
    ("topk_cosine_ivfpq", _topk_ivfpq),
    ("topk_cosine_opq", _topk_opq),
    ("emb_quantize_int8", _emb_quantize),
    ("pack_sequences", _pack_sequences),
    # text analysis
    ("text_stats", _text_stats),
    ("text_pii_redact", _text_pii_redact),
    ("text_repetition", _text_repetition),
    ("text_tfidf_top3", _text_tfidf),
    ("text_line_dedupe", _text_line_dedupe),
    ("text_unigram_logprob", _text_unigram_logprob),
    ("text_bigram_logprob", _text_bigram_logprob),
    ("text_bpe_tokens", _text_bpe_tokens),
    ("text_gopher_quality", _text_gopher_quality),
    ("text_gopher_repetition", _text_gopher_repetition),
    ("text_c4_clean", _text_c4_clean),
    ("text_quality_classifier", _text_quality_classifier),
    ("text_classifier_trained", _text_classifier_trained),
    ("text_ppl_buckets", _text_ppl_buckets),
    ("text_chunks", _text_chunks),
    ("text_chunks_tokens", _text_chunks_tokens),
    ("text_strip_html", _text_strip_html),
    ("text_url_normalize", _text_url_normalize),
    ("text_vocab_divergence", _text_vocab_divergence),
    ("doc_normalize_filter", _doc_normalize_filter),
    ("doc_fingerprints", _doc_fingerprints),
    # sketches
    ("sketch_cm_counts", _sketch_cm_counts),
    ("sketch_cm_estimate", _sketch_cm_estimate),
    ("sketch_kmv_distinct", _sketch_kmv),
    ("sketch_kmv_by_group", _sketch_kmv_by_group),
    ("sketch_hll_estimate", _sketch_hll),
    ("sketch_hll_by_group", _sketch_hll_by_group),
    ("layout_zorder_key", _layout_zorder),
    ("text_bpe_train", _text_bpe_train),
    ("text_unicode_normalize", _text_unicode_normalize),
    ("sketch_quantiles", _sketch_quantiles),
    ("sketch_quantiles_by_group", _sketch_quantiles_by_group),
    ("sketch_heavy_hitters", _sketch_heavy_hitters),
    ("sketch_topk_counts", _sketch_topk_counts),
    ("dsir_log_weights", _dsir_log_weights),
    ("dsir_select", _dsir_select),
    ("dsir_select_frac", _dsir_select_frac),
    ("ann_hard_negatives", _ann_hard_negatives),
    ("sketch_kmv_overlap", _sketch_kmv_overlap),
    ("pack_global_shards", _pack_global_shards),
    ("pack_texts", _pack_texts),
    ("sample_mix_tokens", _sample_mix_tokens),
    ("text_sentence_chunks", _text_sentence_chunks),
    ("text_bm25_topk", _text_bm25_topk),
    ("bm25_hard_negatives", _bm25_hard_negatives),
    ("sample_mix_temperature", _sample_mix_temperature),
    # round-13 additions
    ("sample_mix_temperature_q25", _sample_mix_temperature_q25),
    ("mm_image_quarantine", _mm_image_quarantine),
    ("mm_audio_quarantine", _mm_audio_quarantine),
    ("stream_decontam_bloom_parity", _stream_decontam_bloom_parity),
    ("mm_video_quarantine", _mm_video_quarantine),
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    names = [n for n, _ in _CATALOGUE_PAIRS]
    assert len(names) == len(set(names)), sorted(
        n for n in set(names) if names.count(n) > 1
    )
    cat = dict(_CATALOGUE_PAIRS)
    assert len(WINDOW_50) == 50 and len(set(WINDOW_50)) == 50
    missing = [n for n in WINDOW_50 if n not in cat]
    assert not missing, f"window names absent from catalogue: {missing}"
    out = {n: cat[n] for n in WINDOW_50}
    for n, fn in _CATALOGUE_PAIRS:
        if n not in out:
            out[n] = fn
    return out


def oracle_sql() -> dict[str, str]:
    return {
        "mm_image_features": _MM_IMAGE_FEATURES_SQL,
        "mm_audio_features": _MM_AUDIO_FEATURES_SQL,
        "mm_video_frames": _MM_VIDEO_FRAMES_SQL,
        "stream_dedupe_parity": _STREAM_DEDUPE_PARITY_SQL,
        "stream_user_stats_parity": _STREAM_USER_STATS_PARITY_SQL,
        "stream_interval_join_parity": _STREAM_INTERVAL_JOIN_PARITY_SQL,
        "stream_neardup_parity": _stream_neardup_parity_sql(),
        "stream_hll_parity": _stream_hll_parity_sql(),
        "stream_pack_parity": _PACK_SQL,
        "stream_hh_parity": _STREAM_HH_PARITY_SQL,
        "stream_kmv_parity": _stream_kmv_parity_sql(),
        "corpus_warc": _CORPUS_WARC_SQL,
        "stream_warc_parity": _CORPUS_WARC_SQL,
        "stream_decontam_bloom_parity": _stream_decontam_bloom_sql(),
        "text_main_content": _TEXT_MAIN_CONTENT_SQL,
        "q_linkage_blocked": _linkage_blocked_sql(),
        "q_linkage_snm": _linkage_snm_sql(),
        "q_linkage_jw": _linkage_jw_sql(),
        "q_linkage_fs": _fs_sql(),
        "q_linkage_soundex": _linkage_soundex_sql(),
        "q1_pricing_summary": _Q1_SQL,
        "q3_shipping_priority": _Q3_SQL,
        "q5_region_revenue": _Q5_SQL,
        "q_window_topk_orders": _Q_TOPK_SQL,
        "q_events_hourly": _Q_EVENTS_HOURLY_SQL,
        "q_events_sessions": _Q_EVENTS_SESSIONS_SQL,
        "q_anti_join": _Q_ANTI_SQL,
        "q_semi_join": _Q_SEMI_SQL,
        "q_rollup_region_nation": _Q_ROLLUP_SQL,
        "q_set_ops": _Q_SET_OPS_SQL,
        "q_asof_join": _Q_ASOF_SQL,
        "q_range_join": _Q_RANGE_SQL,
        "q6_revenue_filter": _Q6_SQL,
        "q4_priority_exists": _Q4_SQL,
        "q_cube_flag_status": _Q_CUBE_SQL,
        "q_percentile_price": _Q_PERCENTILES_SQL,
        "q17_small_qty_revenue": _Q17_SQL,
        "q_distinct_counts": _Q_DISTINCT_SQL,
        "q_json_props": _Q_JSON_SQL,
        "q10_returned_items": _Q10_SQL,
        "q12_shipmode_priority": _Q12_SQL,
        "q7_nation_volume": _Q7_SQL,
        "q13_order_histogram": _Q13_SQL,
        "q14_promo_share": _Q14_SQL,
        "q18_large_volume": _Q18_SQL,
        "q19_branch_revenue": _Q19_SQL,
        "gen_uniform": _GEN_UNIFORM_SQL,
        "gen_normal": _GEN_NORMAL_SQL,
        "gen_freq_single": _GEN_FREQ_SINGLE_SQL,
        "gen_freq_multi": _GEN_FREQ_MULTI_SQL,
        "gen_datetime": _GEN_DATETIME_SQL,
        "gen_function": _GEN_FUNCTION_SQL,
        "gen_datasource": _GEN_DATASOURCE_SQL,
        "gen_group": _gen_group_sql(),
        "gen_group_exact": _gen_group_exact_sql(),
        "mut_missing_value": _MUT_MISSING_SQL,
        "mut_missing_strict_p": _MUT_MISSING_STRICT_SQL,
        "mut_uppercase": _MUT_UPPERCASE_SQL,
        "mut_lowercase": _MUT_LOWERCASE_SQL,
        "mut_repeat": _MUT_REPEAT_SQL,
        "mut_insert": _MUT_INSERT_SQL,
        "mut_delete": _MUT_DELETE_SQL,
        "mut_substitute": _MUT_SUBSTITUTE_SQL,
        "mut_transpose": _MUT_TRANSPOSE_SQL,
        "mut_categorical": _MUT_CATEGORICAL_SQL,
        "mut_permute": _MUT_PERMUTE_SQL,
        "mut_datetime_offset": _MUT_DT_OFFSET_SQL,
        "mut_replacement_whole": _MUT_REPL_WHOLE_SQL,
        "mut_generator_splice": _MUT_SPLICE_SQL,
        "mut_chain": _MUT_CHAIN_SQL,
        "mut_cldr_keymap": _mut_cldr_sql(),
        "mut_replacement_inline": _mut_replacement_inline_sql(),
        "mut_phonetic": _mut_phonetic_sql(),
        "mut_regex": _MUT_REGEX_SQL,
        "mut_function": _MUT_FUNCTION_SQL,
        "mut_group": _MUT_GROUP_SQL,
        "dedup_exact": _DEDUP_EXACT_SQL,
        "dedup_groups": _DEDUP_GROUPS_SQL,
        "dedup_minhash_pairs": _dedup_minhash_sql(),
        "dedup_incremental_index": _dedup_incremental_sql(),
        "dedup_substring_spans": _dedup_substring_spans_sql(),
        "dedup_substring_clean": _dedup_substring_clean_sql(),
        "dedup_substring_winnowed": _dedup_substring_winnowed_sql(),
        "dedup_substring_incr": _dedup_substring_incr_sql(),
        "dedup_substring_incr_clean": _dedup_substring_incr_clean_sql(),
        "dedup_simhash_pairs": _dedup_simhash_sql(),
        "dedup_ngram_jaccard": _DEDUP_JACCARD_SQL,
        "dedup_embedding_pairs": _dedup_embedding_sql(),
        "dedup_semantic_pairs": _dedup_semantic_sql(),
        "sketch_quantiles": _sketch_quantiles_sql(),
        "sketch_quantiles_by_group": _sketch_quantiles_by_group_sql(),
        "text_chunks": _text_chunks_sql(),
        "text_chunks_tokens": _text_chunks_tokens_sql(),
        "sketch_heavy_hitters": _HEAVY_HITTERS_SQL,
        "sketch_topk_counts": _TOPK_COUNTS_SQL,
        "sketch_kmv_distinct": _sketch_kmv_sql(),
        "sample_stratified": _sample_stratified_sql(),
        "sample_reservoir_n": _sample_reservoir_sql(),
        "sample_weighted_n": _sample_weighted_sql(),
        "topk_cosine_bruteforce": _TOPK_COSINE_SQL,
        "topk_cosine_ivf": _topk_ivf_sql(),
        "topk_cosine_ivfpq": _topk_ivfpq_sql(),
        "topk_cosine_opq": _topk_opq_sql(),
        "text_stats": _TEXT_STATS_SQL,
        "doc_normalize_filter": _DOC_NORMALIZE_SQL,
        "doc_fingerprints": _doc_fingerprints_sql(),
        "q2_min_cost_supplier": _Q2_SQL,
        "q11_important_stock": _Q11_SQL,
        "q15_top_supplier": _Q15_SQL,
        "q16_supplier_cnt": _Q16_SQL,
        "q20_qty_threshold": _Q20_SQL,
        "q21_waiting_supplier": _Q21_SQL,
        "q22_global_sales_opportunity": _Q22_SQL,
        "q8_market_share": _Q8_SQL,
        "q9_product_profit": _Q9_SQL,
        "q_skew_join": _Q_SKEW_SQL,
        "decontam_overlap": _DECONTAM_OVERLAP_SQL,
        "decontam_filter": _DECONTAM_FILTER_SQL,
        "decontam_filter_bloom": _DECONTAM_FILTER_SQL,
        "dedup_transitive": _dedup_transitive_sql(),
        "text_pii_redact": _pii_sql(),
        "text_tfidf_top3": _TFIDF_SQL,
        "emb_quantize_int8": _EMB_QUANTIZE_SQL,
        "text_repetition": _TEXT_REPETITION_SQL,
        "sketch_cm_counts": _sketch_cm_counts_sql(),
        "sketch_cm_estimate": _sketch_cm_estimate_sql(),
        "sketch_kmv_by_group": _sketch_kmv_by_group_sql(),
        "sketch_hll_estimate": _sketch_hll_sql(),
        "sketch_hll_by_group": _sketch_hll_by_group_sql(),
        "layout_zorder_key": _layout_zorder_sql(),
        "text_bpe_train": _text_bpe_train_sql(),
        "dsir_log_weights": _dsir_log_weights_sql(),
        "dsir_select": _dsir_select_sql(),
        "dsir_select_frac": _dsir_select_frac_sql(),
        "ann_hard_negatives": _ANN_HARD_NEGATIVES_SQL,
        "sketch_kmv_overlap": _sketch_kmv_overlap_sql(),
        "pack_global_shards": _pack_global_shards_sql(),
        "pack_texts": _PACK_TEXTS_SQL,
        "sample_mix_tokens": _sample_mix_tokens_sql(),
        "text_sentence_chunks": _text_sentence_chunks_sql(),
        "text_bm25_topk": _text_bm25_topk_sql(),
        "bm25_hard_negatives": _bm25_hard_negatives_sql(),
        "sample_mix_temperature": _sample_mix_temperature_sql(),
        "sample_mix_temperature_q25": _sample_mix_temperature_q25_sql(),
        "mm_image_quarantine": _MM_IMAGE_QUARANTINE_SQL,
        "mm_audio_quarantine": _MM_AUDIO_QUARANTINE_SQL,
        "mm_video_quarantine": _MM_VIDEO_QUARANTINE_SQL,
        "text_unicode_normalize": _TEXT_UNICODE_NORMALIZE_SQL,
        "pack_sequences": _PACK_SQL,
        "text_line_dedupe": _LINE_DEDUPE_SQL,
        "text_unigram_logprob": _UNIGRAM_LOGPROB_SQL,
        "text_bigram_logprob": _TEXT_BIGRAM_LOGPROB_SQL,
        "text_bpe_tokens": _TEXT_BPE_TOKENS_SQL,
        "text_gopher_quality": _TEXT_GOPHER_QUALITY_SQL,
        "text_gopher_repetition": _gopher_rep_sql(),
        "text_c4_clean": _TEXT_C4_CLEAN_SQL,
        "text_quality_classifier": _text_quality_classifier_sql(),
        "text_classifier_trained": _text_classifier_trained_sql(),
        "text_ppl_buckets": _TEXT_PPL_BUCKETS_SQL,
        "sample_mix_corpus": _sample_mix_corpus_sql(),
        "text_strip_html": _TEXT_STRIP_HTML_SQL,
        "text_url_normalize": _TEXT_URL_NORMALIZE_SQL,
        "sample_split": _sample_split_sql(),
        "dedup_cluster_reps": _dedup_cluster_reps_sql(),
        "dedup_fp_overlap": _dedup_fp_overlap_sql(),
        "sample_split_grouped": _sample_split_grouped_sql(),
        "sample_shuffle": _sample_shuffle_sql(),
        "text_vocab_divergence": _TEXT_VOCAB_DIVERGENCE_SQL,
    }
