"""Bucketed tables: the write-time shuffle eliminates join/agg
exchanges — asserted against the executed plan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gecko_spark.sources.testdata import load_table
from gecko_spark.sources.warehouse import read_table, write_bucketed

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("warehouse")
    orders = load_table(spark, SF, "orders")
    lineitem = load_table(spark, SF, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, path=str(base / "o"))
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], 8, path=str(base / "l"))
    yield
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_bucketed_join_has_no_exchange(spark, bucketed):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = read_table(spark, "b_orders").join(
            read_table(spark, "b_lineitem"), "o_orderkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "same-bucketed join must not shuffle"
        # sanity: it actually joins
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_agg_has_no_exchange(spark, bucketed):
    agg = (
        read_table(spark, "b_lineitem")
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n"))
    )
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, "aggregation on the bucket key must not shuffle"
    assert agg.count() > 0


# -- partitioned sinks (sources/sinks.py) ------------------------------------


def _data_files(path):
    import os

    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if not f.startswith(("_", "."))]
    return out


def test_write_partitioned_one_file_per_partition(spark, tmp_path):
    from gecko_spark.sources.sinks import write_partitioned

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_langs = docs.select("lang").distinct().count()
    out = str(tmp_path / "by_lang")
    # source has many input tasks; without the repartition each task
    # could write into every lang dir
    write_partitioned(docs.repartition(8), out, ["lang"])
    files = _data_files(out)
    assert len(files) == n_langs  # exactly one file per partition dir
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    a = docs.orderBy("doc_id").select("doc_id", "text", "lang").toPandas()
    b = back.orderBy("doc_id").select("doc_id", "text", "lang").toPandas()
    assert a.equals(b)


def test_write_partitioned_sharded_hot_partition(spark, tmp_path):
    from gecko_spark.sources.sinks import write_partitioned

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n_langs = docs.select("lang").distinct().count()
    out = str(tmp_path / "sharded")
    write_partitioned(docs.repartition(8), out, ["lang"], files_per_partition=3)
    files = _data_files(out)
    assert n_langs < len(files) <= 3 * n_langs
    assert spark.read.parquet(out).count() == docs.count()


def test_write_partitioned_tuple_count_is_labelled(spark, tmp_path):
    """With ``files_per_partition > 1`` the distinct-tuple count runs as
    ``gecko:write_partitioned:partition_tuples``; the caller's job
    description comes back afterwards, also when the job fails."""
    from pyspark import TaskContext

    from gecko_spark.sources.sinks import write_partitioned

    sc = spark.sparkContext
    label = "gecko:write_partitioned:partition_tuples"
    hits = sc.accumulator(0)

    def probe(v):
        if TaskContext.get().getLocalProperty("spark.job.description") == label:
            hits.add(1)
        return v

    df = spark.range(40).select("id", (F.col("id") % 4).cast("string").alias("p"))
    probed = df.select("id", F.udf(probe, "string")("p").alias("p"))
    failing = df.select("id", F.raise_error(F.lit("boom")).cast("string").alias("p"))
    sc.setJobDescription("caller")
    try:
        write_partitioned(probed, str(tmp_path / "ok"), ["p"], files_per_partition=2)
        assert hits.value == 40
        assert sc.getLocalProperty("spark.job.description") == "caller"
        with pytest.raises(Exception, match="boom"):
            write_partitioned(failing, str(tmp_path / "bad"), ["p"], files_per_partition=2)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setJobDescription(None)
    assert spark.read.parquet(str(tmp_path / "ok")).count() == 40


def test_compact_reduces_files(spark, tmp_path):
    from gecko_spark.sources.sinks import compact

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "littered")
    # simulate a streaming sink: many tasks × partitions -> many files
    docs.repartition(16).write.partitionBy("lang").parquet(out)
    n_rows = docs.count()
    before, after = compact(spark, out, ["lang"])
    n_langs = docs.select("lang").distinct().count()
    assert before > n_langs  # it was littered
    assert after == n_langs
    assert spark.read.parquet(out).count() == n_rows


def test_compact_jobs_are_labelled(spark, tmp_path):
    """``compact`` reads and rewrites under ``gecko:compact:rewrite``;
    the tuple count of a multi-file rewrite keeps its own label, and the
    caller's job description comes back afterwards."""
    from gecko_spark.sources.sinks import compact

    out = str(tmp_path / "littered")
    df = spark.range(40).select("id", (F.col("id") % 4).cast("string").alias("p"))
    df.repartition(8).write.partitionBy("p").parquet(out)
    sc = spark.sparkContext
    sc.setJobGroup("gecko-compact-labels", "caller", False)
    try:
        compact(spark, out, ["p"], files_per_partition=2)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descriptions = [
        store.job(j).description()
        for j in sc.statusTracker().getJobIdsForGroup("gecko-compact-labels")
    ]
    labels = {d.get() if d.isDefined() else None for d in descriptions}
    assert labels == {"gecko:compact:rewrite", "gecko:write_partitioned:partition_tuples"}
    assert spark.read.parquet(out).count() == 40


# -- corpus ingestion --------------------------------------------------------


def test_read_corpus_jsonl_roundtrip(spark, tmp_path):
    from gecko_spark.sources.corpus import read_corpus, write_jsonl

    docs = spark.createDataFrame(
        [(1, "alpha beta", "en"), (2, "gamma delta", "de")],
        "doc_id long, text string, lang string",
    )
    out = str(tmp_path / "jl")
    write_jsonl(docs, out, compression=None, partitions=1)
    back = read_corpus(spark, out, fmt="jsonl", id_col="doc_id", keep_cols=["lang"])
    got = sorted((r["doc_id"], r["text"], r["lang"]) for r in back.collect())
    assert got == [(1, "alpha beta", "en"), (2, "gamma delta", "de")]


def test_read_corpus_text_lines_content_addressed(spark, tmp_path):
    from gecko_spark.sources.corpus import read_corpus

    p = tmp_path / "docs.txt"
    p.write_text("first doc line\nsecond doc line\n")
    df = read_corpus(spark, str(p), fmt="text")
    rows = df.collect()
    assert {r["text"] for r in rows} == {"first doc line", "second doc line"}
    assert all(r["doc_id"] >= 0 for r in rows)
    # content-addressed: re-reading assigns identical ids
    again = {r["text"]: r["doc_id"] for r in read_corpus(spark, str(p), fmt="text").collect()}
    assert all(again[r["text"]] == r["doc_id"] for r in rows)


def test_read_corpus_csv_and_missing_text_raises(spark, tmp_path):
    import pytest as _pytest

    from gecko_spark.sources.corpus import read_corpus

    p = tmp_path / "c.csv"
    p.write_text("text,score\nhello world,3\nbye now,4\n")
    df = read_corpus(spark, str(p), fmt="csv", keep_cols=["score"])
    assert df.count() == 2
    assert set(df.columns) == {"doc_id", "text", "score"}
    p2 = tmp_path / "bad.csv"
    p2.write_text("body\nhello\n")
    with _pytest.raises(ValueError, match="no 'text'"):
        read_corpus(spark, str(p2), fmt="csv")
    with _pytest.raises(ValueError, match="format"):
        read_corpus(spark, str(p), fmt="xml")


def test_read_corpus_gzip_jsonl(spark, tmp_path):
    import gzip
    import json as _json

    from gecko_spark.sources.corpus import read_corpus

    p = tmp_path / "part-0.json.gz"
    with gzip.open(p, "wt") as f:
        for i in range(5):
            f.write(_json.dumps({"text": f"doc {i}"}) + "\n")
    df = read_corpus(spark, str(tmp_path), fmt="jsonl")
    assert df.count() == 5


def test_stable_doc_id_wide_identity_properties(spark):
    """128-bit wide id (sources/corpus.py::stable_doc_id_wide): opt-in
    identity for >1e8-doc corpora. Properties pinned: (a) injective on
    a real corpus sample — distinct texts get distinct struct keys;
    (b) deterministic under repartitioning (content-addressed, like the
    63-bit form); (c) the two halves are independent draws — hi == lo
    never happens on the sample and the half-collision sets differ;
    (d) the struct key groups and orders natively."""
    from pyspark.sql import functions as F

    from gecko_spark.sources.corpus import stable_doc_id_wide

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    with_id = docs.select(
        "text", stable_doc_id_wide(F.col("text")).alias("wid")
    )
    n_text = with_id.select("text").distinct().count()
    n_wid = with_id.select("wid").distinct().count()
    assert n_wid == n_text  # (a) no collisions across distinct texts
    # (b) repartition-invariant
    a = {r["text"]: (r["wid"]["hi"], r["wid"]["lo"]) for r in with_id.collect()}
    b = {
        r["text"]: (r["wid"]["hi"], r["wid"]["lo"])
        for r in docs.repartition(13)
        .select("text", stable_doc_id_wide(F.col("text")).alias("wid"))
        .collect()
    }
    assert a == b
    # (c) halves differ everywhere on the sample (independent draws)
    assert with_id.filter(F.col("wid.hi") == F.col("wid.lo")).count() == 0
    # (d) struct key is usable as a grouping and ordering key
    grouped = with_id.groupBy("wid").count()
    assert grouped.count() == n_wid
    ordered = grouped.orderBy("wid").limit(3).collect()
    assert len(ordered) == 3
