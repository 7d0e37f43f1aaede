"""E2E: the example pipeline generates, corrupts, and round-trips CSV."""

from __future__ import annotations

import sys

sys.path.insert(0, "examples")

from person_pipeline import build, corrupt  # noqa: E402


def test_person_pipeline_end_to_end(spark, tmp_path):
    clean = build(spark, 20_000, seed=42)
    dirty = corrupt(clean, seed=7)

    cpdf = clean.toPandas()
    assert len(cpdf) == 20_000
    # gender-given dependence preserved: every (gender, given) pair is
    # one of the six configured combinations
    pairs = set(map(tuple, cpdf[["gender", "given_name"]].drop_duplicates().values))
    allowed = {("f", "Anna"), ("f", "Maria"), ("f", "Lena"),
               ("m", "Paul"), ("m", "Max"), ("m", "Jonas")}
    assert pairs <= allowed

    dpdf = dirty.toPandas().sort_values("__idx__")
    merged = cpdf.sort_values("__idx__").merge(dpdf, on="__idx__", suffixes=("_c", "_d"))
    changed = (
        (merged["given_name_c"] != merged["given_name_d"])
        | (merged["last_name_c"] != merged["last_name_d"])
        | (merged["birthday_c"] != merged["birthday_d"])
        | (merged["weight_kg_c"] != merged["weight_kg_d"])
        | (merged["gender_c"] != merged["gender_d"])
    ).mean()
    assert 0.1 < changed < 0.5  # some corruption, not everything

    # CSV round-trip
    out = str(tmp_path / "dirty")
    dirty.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.option("header", True).csv(out)
    assert back.count() == 20_000
    assert set(back.columns) == set(dirty.columns)


def test_corpus_curation_end_to_end(spark, tmp_path):
    from corpus_curation import curate

    sf = "/root/testdata/sf0.001"
    out = curate(spark, sf)
    pdf = out.toPandas()

    raw = spark.read.parquet(f"{sf}/documents.parquet")
    n_raw = raw.count()
    # the gates dropped something but not everything
    assert 0 < len(pdf) < n_raw
    # no exact duplicate texts survive
    assert pdf["text"].nunique() == len(pdf)
    # enrichment attached stats and the as-of context column
    for c in ["quality", "fp", "n_tokens", "event_type"]:
        assert c in pdf.columns
    # curated quality respects the gate
    assert (pdf["quality"] >= 0.3).all()
    # as-of: every doc with id >= first event id has a matched context
    assert pdf.loc[pdf["doc_id"] >= 0, "event_type"].notna().all()


def test_curate_to_sequences_persist_boundary(spark):
    """The curation_e2e bench invariant (round 12): the final packed-
    sequences plan must read every document byte from the PERSISTED
    train split — zero documents.parquet leaves in the optimized plan.
    Without the persist boundary each post-curation action (DSIR fit,
    selection threshold, shard totals, final write) would re-execute
    the whole 12-stage dedup gauntlet."""
    from corpus_curation import curate_to_sequences

    seqs, cached = curate_to_sequences(spark, "/root/testdata/sf0.001")
    try:
        pdf = seqs.toPandas()
        assert len(pdf) > 0
        assert pdf["n_docs"].sum() > 0
        leaves = seqs._jdf.queryExecution().optimizedPlan().collectLeaves()
        doc_scans = sum(
            1
            for i in range(leaves.size())
            if "documents.parquet"
            in leaves.apply(i).toString().splitlines()[0]
        )
        assert doc_scans == 0, f"{doc_scans} raw re-scans of documents"
        # the cache boundary is real: at least one InMemoryRelation leaf
        assert any(
            leaves.apply(i).toString().startswith("InMemoryRelation")
            for i in range(leaves.size())
        )
    finally:
        for c in cached:
            c.unpersist()


def test_ensure_parallelism_ladder(spark):
    """Round-12 cost ladder: shuffle-bearing inputs return unchanged
    WITHOUT an .rdd conversion (which executes query stages under AQE);
    scan-shaped starved inputs still get repartitioned."""
    from pyspark.sql import functions as F

    from gecko_spark.operators.dedup import _plan_has_shuffle, ensure_parallelism

    agg = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .groupBy("lang").count()
    )
    assert _plan_has_shuffle(agg)
    assert ensure_parallelism(agg) is agg  # returned untouched
    # a column NAMED like an operator must not trip the matcher
    narrow = spark.range(10).select(F.col("id").alias("JoinDate"))
    assert not _plan_has_shuffle(narrow)
    # round 13 (ADVICE r12): a broadcast-hinted join preserves the
    # probe side's width — NOT shuffle evidence; a plain join is
    dim = spark.range(5).withColumnRenamed("id", "k")
    probe = spark.range(0, 100, 1, 1).withColumnRenamed("id", "k")
    assert not _plan_has_shuffle(probe.join(F.broadcast(dim), "k"))
    assert _plan_has_shuffle(probe.join(dim, "k"))
    # ...and a starved probe behind a broadcast join still gets widened
    widened_bj = ensure_parallelism(probe.join(F.broadcast(dim), "k"))
    assert widened_bj.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 2
    )
    # round 13 (ADVICE r12): sortWithinPartitions prints 'Sort …, false'
    # (no exchange) — NOT shuffle evidence; a global sort is
    v = spark.range(100).withColumn("v", F.col("id") % 7)
    assert not _plan_has_shuffle(v.sortWithinPartitions(F.col("v").desc()))
    assert _plan_has_shuffle(v.orderBy("v"))
    # a shuffle BENEATH the probe side of a broadcast join still counts
    agg_probe = v.groupBy("v").count().join(
        F.broadcast(dim.withColumnRenamed("k", "v")), "v"
    )
    assert _plan_has_shuffle(agg_probe)
    # scan-shaped single-partition input still gets widened
    one = spark.range(0, 100, 1, 1)
    widened = ensure_parallelism(one)
    assert widened.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 2
    )
    # round 15: the spread key is a deterministic value hash, not
    # round-robin — no sort-before-repartition pass, and retried tasks
    # reproduce the row→partition map from values alone
    assert "xxhash64" in widened._jdf.queryExecution().analyzed().toString()
    # ...but map-typed columns (unhashable in Spark) keep round-robin
    mapped = one.withColumn("m", F.create_map(F.lit("k"), F.col("id")))
    widened_m = ensure_parallelism(mapped)
    assert "xxhash64" not in widened_m._jdf.queryExecution().analyzed().toString()
    assert widened_m.rdd.getNumPartitions() >= min(
        spark.sparkContext.defaultParallelism, 2
    )
    assert widened_m.count() == 100
    # round 14: a STREAMING frame is returned untouched — .inputFiles()
    # and .rdd are illegal on a streaming plan, and the guard sits
    # inside kernels (DSIR scorer, gopher gates) that must stay
    # streaming-servable
    stream = spark.readStream.format("rate").load()
    assert ensure_parallelism(stream) is stream


def test_ensure_parallelism_spreads_frames_without_columns(spark):
    """A frame with no columns gives every row the same value hash, so
    it must take the round-robin spread instead."""
    from pyspark.sql import functions as F

    from gecko_spark.operators.dedup import ensure_parallelism

    widened = ensure_parallelism(spark.range(0, 100, 1, 1).select())
    assert widened.columns == []
    assert widened.count() == 100
    used = widened.select(F.spark_partition_id().alias("p")).distinct().count()
    assert used >= min(spark.sparkContext.defaultParallelism, 2)


def test_ensure_parallelism_duplicate_column_names(spark):
    """Duplicate column names cannot be addressed by name; the guard
    must still spread the frame."""
    from pyspark.sql import functions as F

    from gecko_spark.operators.dedup import ensure_parallelism

    one = spark.range(0, 100, 1, 1)
    dup = one.select(F.col("id").alias("a"), (F.col("id") * 2).alias("a"))
    widened = ensure_parallelism(dup)
    assert widened.columns == ["a", "a"]
    assert widened.rdd.getNumPartitions() >= min(spark.sparkContext.defaultParallelism, 2)
    assert sorted(r[1] for r in widened.collect()) == list(range(0, 200, 2))


def test_streaming_pipeline_example(spark):
    from streaming_pipeline import run_to_memory

    counts = run_to_memory(spark, "/root/testdata/sf0.001")
    # dedup keeps every distinct event exactly once
    n_events = spark.read.parquet(
        "/root/testdata/sf0.001/[e]vents.parquet"
    ).count()
    assert counts["corrupted"] == n_events
    # the interval join found correlations and the windows materialized
    assert counts["correlated"] > 0
    assert 0 < counts["hourly"] <= n_events


def _run_example(script, tmp_path, timeout=420):
    """Run an example main as a subprocess (each calls spark.stop(), so
    in-process execution would kill the shared test session)."""
    import os
    import subprocess

    out_dir = str(tmp_path / "out")
    proc = subprocess.run(
        [sys.executable, f"examples/{script}", "/root/testdata/sf0.001", out_dir],
        capture_output=True,
        text=True,
        timeout=timeout,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return out_dir, proc.stdout


def test_corpus_curation_example_end_to_end(tmp_path):
    """The showcase curation pipeline must keep running as the operators
    evolve (VERDICT r5 'next' #10)."""
    import glob

    out_dir, stdout = _run_example("corpus_curation.py", tmp_path)
    assert "curated corpus:" in stdout
    # row/byte deltas asserted by the example itself (r11: the
    # substring-excision stage joined the chain — content must shrink)
    assert "% dropped)" in stdout and "% removed)" in stdout
    assert "n_chars p50" in stdout
    assert "split train:" in stdout
    # partitioned-by-lang layout materialized
    assert glob.glob(f"{out_dir}/curated/lang=*/*.parquet")


def test_incremental_ingest_example_end_to_end(tmp_path):
    import glob

    out_dir, stdout = _run_example("incremental_ingest.py", tmp_path)
    assert "-> accepted" in stdout and "signatures" in stdout
    assert glob.glob(f"{out_dir}/accepted/lang=*/*.parquet")
    assert glob.glob(f"{out_dir}/minhash_index/*.parquet")
    # the increment actually survived the dedupe/decontam gauntlet
    import re

    m = re.search(r"increment (\d+) docs -> accepted (\d+)", stdout)
    assert m and 0 < int(m.group(2)) <= int(m.group(1))


def test_linkage_eval_example_end_to_end(tmp_path):
    import subprocess
    import os

    proc = subprocess.run(
        [sys.executable, "examples/linkage_eval.py", "20000"],
        capture_output=True, text=True, timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = proc.stdout
    assert "levenshtein best-match" in out
    assert "fellegi-sunter (EM-fitted)" in out
    import re

    accs = [float(m) for m in re.findall(r"pid accuracy (\d\.\d+)", out)]
    assert len(accs) == 3 and all(a > 0.98 for a in accs), out


def test_warc_ingest_example_end_to_end(tmp_path):
    out_dir, stdout = _run_example("warc_ingest.py", tmp_path)
    assert "20 mirrors dropped" in stdout
    assert "indexed fetch: 100 records" in stdout
    import pyarrow.parquet as pq

    t = pq.read_table(f"{out_dir}/corpus.parquet")
    assert t.num_rows == 180
    assert {"doc_id", "text", "meta"} <= set(t.column_names)
