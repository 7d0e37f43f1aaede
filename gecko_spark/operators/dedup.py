"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact
duplicate removal, MinHash + LSH near-dup detection, SimHash, and
n-gram Jaccard similarity — each designed for the 100 TB path:

* shingling / hashing / signatures are pure JVM column algebra
  (``transform`` / ``aggregate`` higher-order functions over
  ``xxhash64``) inside whole-stage codegen — no Python in the hot path;
* candidate generation is band-bucket grouping (one shuffle keyed on
  the bucket), never an all-pairs product;
* all arithmetic stays in int64 with pre-reduction mod a 31-bit prime,
  safe under Spark 4's ANSI overflow checking.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gecko_spark.core import adopt_cache_owner, persist_until_released

__all__ = [
    "char_shingles",
    "dedupe_exact",
    "ensure_parallelism",
    "exact_duplicate_groups",
    "minhash_signature",
    "minhash_signature_jvm",
    "minhash_candidate_pairs",
    "minhash_dedupe",
    "minhash_dedupe_transitive",
    "connected_components",
    "select_representatives",
    "minhash_cluster_representatives",
    "simhash",
    "simhash_jvm",
    "simhash_candidate_pairs",
    "ngram_jaccard_pairs",
    "ngram_jaccard_pairs_prefix",
    "fingerprint_overlap_pairs",
    "embedding_cosine_pairs",
    "semantic_dedupe_pairs",
    "semantic_dedupe",
    "write_minhash_index",
    "dedupe_against_index",
    "substring_window_positions",
    "substring_dup_spans",
    "substring_dedupe",
    "write_substring_index",
    "substring_spans_against_index",
]

# 31-bit Mersenne prime: (h % P) * a + b stays well inside int64
_P = 2_147_483_647


def _perm_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations."""
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P - 1), rnd.randrange(0, _P - 1)) for _ in range(num_hashes)]


_TREE_PREFIX_RE = None  # compiled lazily (module import stays light)


def _plan_has_shuffle(df: DataFrame) -> bool:
    """True when the OPTIMIZED logical plan contains a width-RESTORING
    operator (aggregate/shuffle-join/window/global-sort/…): downstream
    partition count is then governed by spark.sql.shuffle.partitions /
    AQE, not by the scan. Analysis-only — never plans physically, never
    runs a job. Operator names are matched at tree-line starts so a
    column named 'JoinDate' can't false-positive.

    Two node kinds are deliberately NOT shuffle evidence (round 13,
    ADVICE r12): a broadcast-hinted ``Join … Hint=(strategy=broadcast)``
    preserves the PROBE side's partitioning (no exchange — a
    1-partition scan probe stays 1 partition through it), and
    ``sortWithinPartitions`` prints ``Sort […], false`` (partition-
    local, no exchange). Both fall through to the exact width probe;
    any real shuffle BENEATH them (e.g. an Aggregate under the probe
    side) still matches on its own line. Also deliberately NOT
    GlobalLimit or Repartition/RepartitionByExpression: a .limit()
    plan collapses to one partition and a .coalesce(1)/.repartition(n)
    pins width to an EXPLICIT n that may be tiny — exactly the
    starvation the guard exists for (caught by the substring
    plan-shape test).

    The broadcast carve-out applies only where Spark can actually
    honor the hint (round 14, ADVICE r13 — verified against the
    physical planner with autoBroadcastJoinThreshold=-1): the build
    side must be legal for the join type — either side for
    Inner/Cross, only the RIGHT for LeftOuter/LeftSemi/LeftAnti/
    ExistenceJoin, only the LEFT for RightOuter, NEITHER for
    FullOuter. A hint on an illegal side is silently dropped by
    Spark (SortMergeJoin → exchange), so such joins count as shuffle
    evidence here — otherwise the fall-through ``.rdd`` width probe
    would execute the shuffle stages under AQE, the exact
    multi-second hazard this plan scan exists to avoid."""
    global _TREE_PREFIX_RE
    if _TREE_PREFIX_RE is None:
        import re as _re

        _TREE_PREFIX_RE = _re.compile(r"^[\s:+\-]*")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for raw in plan.splitlines():
        line = _TREE_PREFIX_RE.sub("", raw, count=1)
        if line.startswith(
            ("Aggregate", "Window", "Distinct", "Intersect", "Except")
        ):
            return True
        # global sort prints 'Sort [...], true'; partition-local
        # sortWithinPartitions prints '..., false' — no exchange
        if line.startswith("Sort ") and line.rstrip().endswith("], true"):
            return True
        # broadcast-hinted joins keep the probe side's width — but only
        # when the hint sits on a build side the join type permits;
        # Spark silently drops illegal hints (→ SortMergeJoin)
        if line.startswith("Join ") and not _broadcast_hint_usable(line):
            return True
    return False


def _broadcast_hint_usable(join_line: str) -> bool:
    """True when a ``Join <Type>, …, [left|right]Hint=(…)`` optimized-plan
    line carries a broadcast hint Spark can actually honor for that join
    type (see _plan_has_shuffle docstring for the legality table)."""
    parts = join_line.split(None, 2)
    join_type = parts[1].rstrip(",") if len(parts) > 1 else ""

    def _hinted(side: str) -> bool:
        marker = side + "Hint=("
        i = join_line.find(marker)
        if i == -1:
            return False
        body = join_line[i + len(marker):]
        return "strategy=broadcast" in body.split(")", 1)[0]

    if join_type in ("Inner", "Cross"):
        return _hinted("left") or _hinted("right")
    if join_type in ("LeftOuter", "LeftSemi", "LeftAnti") or join_type.startswith(
        "ExistenceJoin"
    ):
        return _hinted("right")
    if join_type == "RightOuter":
        return _hinted("left")
    return False  # FullOuter and anything unrecognized: never broadcastable


def ensure_parallelism(df: DataFrame, min_ratio: float = 1.0) -> DataFrame:
    """Round-robin repartition when the scan yields fewer partitions than
    cores (single-file / single-row-group parquet reads collapse to one
    task otherwise). On a real cluster with many input splits this is a
    no-op — the guard only fires when parallelism is actually starved.

    Cost ladder (round 12 — the old exact probe was the curation
    chain's hidden build cost): (1) ``df.inputFiles()`` (analysis +
    file listing only) short-circuits the common at-scale case —
    parquet files are splittable, so ``n_partitions >= n_files``;
    (2) a logical-plan scan: if the input already shuffles
    (aggregate/join/window/…), its width is shuffle.partitions by
    construction and the guard is moot; (3) only a genuinely
    scan-shaped few-files input falls through to the exact
    ``.rdd.getNumPartitions()`` probe — which is only safe THERE:
    under AQE, ``.rdd`` on a shuffle-bearing plan EXECUTES its query
    stages (profiled at 6+ s and real cluster jobs per call inside the
    curation chain), so step (2) must come first.

    Streaming frames are returned untouched: ``.inputFiles()`` /
    ``.rdd`` are illegal on a streaming plan, and micro-batch width is
    the source's concern (maxFilesPerTrigger etc.), not this guard's —
    stateless kernels that share code with the batch path (e.g. the
    DSIR scorer) must stay streaming-servable.

    The spread key is ``xxhash64(struct(*cols))``, not round-robin
    (round 15, guide §2.5): every keyless ``repartition(n)`` first
    pays a LOCAL SORT of its input (``sortBeforeRepartition``, on by
    default so retried tasks reproduce their row→partition map) —
    measured +0.28 s vs +0.06 s per 600 k-row spread at sf0.1. The
    hash key is deterministic per ROW VALUE, so retries reproduce the
    assignment without any sort, and per-row-distinct hash values
    spread binomially evenly. Consumers are partition-invariant by
    this guard's contract, so assignment-by-content vs assignment-by-
    arrival changes nothing observable. Frames with map-typed columns
    (not hashable in Spark), with no columns (every row would hash
    alike and land in one partition) or with duplicate column names
    (not addressable by name) keep the round-robin path. Identical rows
    still hash alike, so a frame made mostly of duplicate rows spreads
    over few partitions."""
    if df.isStreaming:
        return df
    target = max(
        1, int(df.sparkSession.sparkContext.defaultParallelism * min_ratio)
    )
    try:
        if len(df.inputFiles()) >= target:
            return df
    except Exception:
        pass  # non-file-backed plan: fall through
    try:
        if _plan_has_shuffle(df):
            return df
    except Exception:
        pass  # plan dump unavailable: fall through to the exact probe
    if df.rdd.getNumPartitions() < target:
        n = df.sparkSession.sparkContext.defaultParallelism
        cols = df.columns
        if (
            not cols
            or len(set(cols)) < len(cols)
            or any(_contains_map(f.dataType) for f in df.schema.fields)
        ):
            return df.repartition(n)
        return df.repartition(n, F.xxhash64(F.struct(*[df[c] for c in cols])))
    return df


def _contains_map(dt) -> bool:
    """True when the datatype (recursively) contains a MapType —
    Spark's hash functions reject maps, so such frames must take the
    round-robin spread."""
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def _content_key(cols: Sequence[str]) -> Column:
    """Collision- and null-safe content key: hash of the JSON-encoded
    struct. A bare ``xxhash64(*cols)`` SKIPS null children (Spark hash
    semantics), conflating ('x', NULL) with (NULL, 'x'); the struct
    encoding keeps field positions distinct."""
    if len(cols) == 1:
        return F.col(cols[0])
    return F.to_json(F.struct(*[F.col(c) for c in cols]))


def exact_duplicate_groups(
    df: DataFrame, cols: Union[str, Sequence[str]], id_col: str
) -> DataFrame:
    """Groups of exact duplicates over ``cols``: one row per duplicated
    content with the member count and the representative (min id).

    One hash-aggregate — the canonical exact-dedup shape with map-side
    partial aggregation. Grouping is by the content itself (not a
    64-bit hash): a hash key would silently merge colliding or
    null-shuffled rows.
    """
    if isinstance(cols, str):
        cols = [cols]
    return (
        df.select(_content_key(cols).alias("__key__"), F.col(id_col))
        .groupBy("__key__")
        .agg(
            F.count("*").alias("n_dupes"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dupes") > 1)
        .drop("__key__")
        .select("keep_id", "n_dupes")
    )


def dedupe_exact(
    df: DataFrame, cols: Union[str, Sequence[str]], id_col: Optional[str] = None
) -> DataFrame:
    """Keep one representative row per distinct ``cols`` content.

    With ``id_col`` the representative is deterministic (min id) via a
    window partitioned on the content; without, falls back to
    ``dropDuplicates`` (arbitrary survivor, cheapest plan).
    """
    if isinstance(cols, str):
        cols = [cols]
    if id_col is None:
        return df.dropDuplicates(list(cols))
    w = Window.partitionBy(*[F.col(c) for c in cols]).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash
# ---------------------------------------------------------------------------


def char_shingles(text: Column, n: int = 5, lowercase: bool = True) -> Column:
    """Distinct character n-grams of a string column as an array —
    computed entirely JVM-side: sequence over start offsets, substring
    per offset, distinct."""
    t = F.lower(text) if lowercase else text
    starts = F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1)))
    return F.array_distinct(F.transform(starts, lambda i: F.substring(t, i, n)))


def minhash_signature_jvm(
    text: Column,
    num_hashes: int = 64,
    shingle_size: int = 5,
    seed: int = 0,
) -> Column:
    """MinHash signature as pure Column algebra (array<bigint>).

    shingle → xxhash64 → k universal-hash permutations → array_min.
    Zero Python, but higher-order functions are *interpreted* (not
    whole-stage-codegen) and Catalyst re-inlines the expression at every
    use site — prefer :func:`minhash_signature` (Arrow) in hot paths and
    materialize the result before fanning out."""
    base = F.transform(
        char_shingles(text, shingle_size),
        lambda s: F.pmod(F.xxhash64(s), F.lit(_P)),
    )
    perms = _perm_params(num_hashes, seed)

    def _perm_fn(a: int, b: int):
        # closure factory — a default-arg lambda would change the lambda's
        # visible arity, which PySpark uses to bind HOF variables
        return lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P))

    return F.array(
        *[F.array_min(F.transform(base, _perm_fn(a, b))) for a, b in perms]
    )


def minhash_signature(
    text: Column,
    num_hashes: int = 64,
    shingle_size: int = 5,
    seed: int = 0,
) -> Column:
    """MinHash signature (array<bigint>) via one Arrow kernel.

    Per batch, fully vectorized NumPy: code-point-level rolling
    polynomial hash over ``shingle_size`` windows (sliding_window_view
    @ powers, mod P), distinct, then the k×S universal-hash matrix
    minimum. One pass over the data, ~100× the interpreted HOF path;
    arithmetic stays in int64 (max term ≈ 2^44 for astral code points)
    under ANSI-safe bounds.

    The hash is deliberately *portable arithmetic*, not an engine hash:
    ``h(window) = Σ cp[j]·256^(n-1-j) mod (2^31-1)`` over Unicode code
    points of the lowercased text. Any engine with 64-bit integers
    (DuckDB, Trino, a SQL oracle) reproduces the signature bit-for-bit
    — see the ``dedup_minhash_pairs`` oracle in ``__spark_entry__.py``.

    Round 15 (guide §4): the shingle hashing runs once over the
    CONCATENATED batch (``batch_window_hashes`` — the per-row
    encode/window/matmul dispatch dominated the kernel), and when the
    batch's distinct shingle vocabulary is small (natural-language
    corpora repeat shingles massively — the bench corpus has ~2k
    distinct hashes across 1.5M windows) the k-hash grid is evaluated
    ONCE over the global distinct hashes and each row takes a
    gather+min over its shingle codes. High-diversity batches keep the
    round-14 per-row cache-resident grid (a 64 × U grid at U ≈ windows
    would stream through main memory — the shape round 14 measured
    1.3–5× slower). Both paths are bit-identical: duplicates cannot
    change a minimum, and the grid arithmetic is unchanged.
    """
    from gecko_spark.functions.portable_hash import batch_window_hashes

    params = np.asarray(_perm_params(num_hashes, seed), dtype=np.int64)
    a_col = params[:, 0][:, None]
    b_col = params[:, 1][:, None]
    n = shingle_size
    # global-grid cap: 64 × 2^16 int64 temporaries stay ~32 MB (cache-
    # friendly); past it the grid build goes memory-bound and the
    # per-row path wins
    grid_cap = 1 << 16

    def _fold(x: np.ndarray) -> np.ndarray:
        # universal-hash grid with an in-place Mersenne fold
        # (2^31 ≡ 1 mod P): two shift+mask+add rounds replace the
        # generic `%` — bit-identical values, measurably faster.
        y = x >> 31
        x &= _P
        x += y
        y = x >> 31
        x &= _P
        x += y
        x[x >= _P] -= _P
        return x

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        k = len(params)
        empty_sig = np.full(k, _P, dtype=np.int64)
        nrows = len(texts)
        if nrows == 0:
            return pd.Series(np.empty(0, dtype=object))
        lowered = [t.lower() if t else "" for t in texts]
        (hv,), counts = batch_window_hashes(lowered, n, (_P,))
        cum = np.zeros(nrows + 1, dtype=np.int64)
        np.cumsum(counts, out=cum[1:])
        out: list = [empty_sig] * nrows
        if len(hv) == 0:
            return pd.Series(out)
        # probe distinctness on a strided ~32k sample before paying the
        # full batch sort: a high-diversity batch (sampled distinct
        # ratio > 0.5) goes straight to the per-row path — the global
        # unique would cost a full sort only to land over grid_cap
        uniq = codes = None
        stride = max(1, len(hv) >> 15)
        samp = hv[::stride]
        if len(np.unique(samp)) * 2 <= len(samp):
            # hash values are < 2^31: the uint32 view sorts faster
            uniq, codes = np.unique(hv.astype(np.uint32), return_inverse=True)
        if uniq is not None and len(uniq) <= grid_cap:
            # grid over the batch-global distinct hashes, transposed so
            # each row's gather reads contiguous 64-value blocks; int32
            # halves the gather traffic (values < P < 2^31)
            grid_t = _fold(a_col * uniq.astype(np.int64)[None, :] + b_col).T.astype(
                np.int32
            )
            for i in range(nrows):
                if counts[i]:
                    out[i] = (
                        grid_t[codes[cum[i]:cum[i + 1]]]
                        .min(axis=0)
                        .astype(np.int64)
                    )
        else:
            for i in range(nrows):
                if counts[i]:
                    # distinct BEFORE the k-hash grid: duplicates cannot
                    # change a minimum, and the small sort costs less
                    # than k grid rows over the dupes
                    h = np.unique(hv[cum[i]:cum[i + 1]])
                    out[i] = _fold(a_col * h[None, :] + b_col).min(axis=1)
        return pd.Series(out)

    return _sig(text)


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 0,
    max_bucket_size: Optional[int] = 5000,
    persist_signatures: bool = True,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band bucket, with the
    signature-estimated Jaccard similarity.

    ``persist_signatures=True`` caches the signature frame
    (MEMORY_AND_DISK) because three downstream stages reference it;
    the cache's lifetime is tied to the returned DataFrame
    (``core.persist_until_released``): when the caller drops the
    result, the cache unpersists itself, so sweep loops over many
    corpora leave no cached blocks behind. Pass ``False`` to skip the
    cache entirely (signatures then recompute once per reference).

    Returns columns ``(id_a, id_b, est_jaccard)`` with id_a < id_b.

    Scale shape: signature projection (narrow) → explode to
    ``bands`` rows per doc → ONE shuffle on (band, bucket) → in-bucket
    pair expansion; estimated similarity is computed from the
    signatures carried alongside, so no second join back to the corpus
    is needed.

    ``max_bucket_size`` drops buckets larger than the cap before the
    pair expansion — a bucket of f docs emits O(f²) pairs, so one
    degenerate bucket (e.g. every empty/boilerplate doc shares an
    identical signature) would otherwise explode the join. Capped
    buckets are near-useless for similarity anyway (they are driven by
    content so common it carries no signal); pass ``None`` to disable.
    """
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rows_per_band = num_hashes // bands

    sig = minhash_signature(F.col(text_col), num_hashes, shingle_size, seed)
    # Materialize the signatures ONCE: every later stage (band explode,
    # both similarity-join sides) references this frame, and without a
    # persist Spark recomputes the Arrow signature kernel per reference
    # — measured 2× kernel cost at sf0.1. MEMORY_AND_DISK so oversized
    # corpora spill instead of OOM.
    from pyspark import StorageLevel

    with_sig = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), sig.alias("sig")
    )
    if persist_signatures:
        with_sig = with_sig.persist(StorageLevel.MEMORY_AND_DISK)

    # The banded index carries (doc, band, bucket) ONLY — the signature
    # stays behind in with_sig instead of riding the ×bands explode
    # (which would duplicate every 64-long array 16×, making the
    # candidate shuffle 16× wider; measured 5.0 s → 2.6 s at sf0.1).
    # The bucket key is the raw signature slice itself (array<bigint>),
    # not an engine hash of it: a few extra bytes per row, and in
    # exchange the bucketing is engine-portable — the DuckDB oracle
    # reproduces it exactly, with zero collision risk on top of the
    # signature's own.
    banded = with_sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.slice(
                            F.col("sig"), b * rows_per_band + 1, rows_per_band
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    if max_bucket_size is not None:
        # Capped path: ONE (band, bucket) exchange for the whole
        # pairing (round 14 opt, guide §2.4): group each bucket's docs
        # and expand pairs from the grouped array. The previous shape
        # shuffled the banded set THREE times — the oversized-count
        # aggregate plus both sides of a (band, bucket) self-join; at
        # any scale that is 3× the shuffle bytes for the same pair
        # set. The size filter reproduces ``max_bucket_size`` exactly
        # (a doc appears once per band, so the array length IS the old
        # per-bucket count; singletons emit no pair either way), and
        # per-task state stays bounded by the cap (≤max_bucket_size
        # bigints per bucket array). Interleaved min-of-5 at sf0.1
        # (scratch/mh_pairs_ab2_r14.log): 3.11 s min / 3.56 med →
        # 2.59 min / 2.68 med, pair set byte-identical (418,189 pairs).
        grouped = banded.groupBy("band", "bucket").agg(
            F.collect_list("doc").alias("__ds__")
        )
        # double explode → DISTINCT candidate pairs (a pair colliding
        # in several bands is similarity-scored once, not once per
        # band)
        cand = (
            grouped.filter(
                (F.size("__ds__") >= 2) & (F.size("__ds__") <= max_bucket_size)
            )
            .select(F.explode("__ds__").alias("id_a"), "__ds__")
            .select("id_a", F.explode("__ds__").alias("id_b"))
            .filter(F.col("id_a") < F.col("id_b"))
            .distinct()
        )
    else:
        # Uncapped path (round 15, VERDICT r14 "what's wrong" #1): a
        # degenerate bucket's fan-out is UNBOUNDED, so the streaming
        # self-join (SMJ spills; a collect_list array buffers the whole
        # bucket in one aggregation buffer and would not) is the safe
        # shape — same convention as fingerprint_overlap_pairs. The
        # signature persist above keeps the Arrow kernel from running
        # once per join side.
        ba = banded.select("band", "bucket", F.col("doc").alias("id_a"))
        bb = banded.select("band", "bucket", F.col("doc").alias("id_b"))
        cand = (
            ba.join(bb, ["band", "bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    # one Arrow kernel evaluates est_jaccard per distinct pair — the
    # interpreted zip_with/filter HOF pair was ~2× slower here (it
    # re-evaluates per raw band collision and stays out of codegen)
    @F.pandas_udf(T.DoubleType())
    def _sig_sim(sa: pd.Series, sb: pd.Series) -> pd.Series:
        if not len(sa):
            return pd.Series(np.empty(0, dtype=np.float64))
        a = np.stack(sa.to_numpy())
        b = np.stack(sb.to_numpy())
        return pd.Series((a == b).sum(axis=1) / float(a.shape[1]))

    sa = with_sig.select(F.col("doc").alias("id_a"), F.col("sig").alias("__sig_a__"))
    sb = with_sig.select(F.col("doc").alias("id_b"), F.col("sig").alias("__sig_b__"))
    out = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            _sig_sim(F.col("__sig_a__"), F.col("__sig_b__")).alias("est_jaccard"),
        )
    )
    if persist_signatures:
        out = persist_until_released(with_sig, out)
    return out


def minhash_dedupe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 0,
) -> DataFrame:
    """Drop near-duplicates: for every candidate pair above ``threshold``
    the higher id is removed (single-pass min-id survivorship — the
    standard one-shot approximation of connected components; iterate
    for transitive closure if needed)."""
    # hold the owner frame (not just the .filter() derivative) so the
    # signature cache stays live while the returned plan is evaluated
    owner = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_size, seed
    )
    pairs = owner.filter(F.col("est_jaccard") >= threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return adopt_cache_owner(df.join(losers, id_col, "left_anti"), owner)


def _cc_driver_union_find(pairs_c: DataFrame) -> DataFrame:
    """Exact connected components of a BOUNDED pair list on the driver:
    union-find with path compression over np.unique-factorized node
    codes. np.unique returns SORTED uniques, so the code order is the
    id order and keeping the smaller-code root as parent makes every
    final root the minimum id of its component — byte-identical to the
    distributed min-label propagation. Only called beneath
    ``max_driver_edges`` (see connected_components); duplicate pairs
    and self-pairs are harmless to union-find, so the symmetric-expand
    + distinct shuffle of the distributed path is skipped entirely."""
    spark = pairs_c.sparkSession
    pdf = pairs_c.toPandas()
    node_type = pairs_c.schema["src"].dataType
    schema = T.StructType(
        [
            T.StructField("node", node_type, False),
            T.StructField("component", node_type, False),
        ]
    )
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    both = np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()])
    nodes, codes = np.unique(both, return_inverse=True)
    a = codes[: len(pdf)]
    b = codes[len(pdf):]
    parent = np.arange(len(nodes), dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for i in range(len(a)):
        ra, rb = find(a[i]), find(b[i])
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    labels = np.array([find(i) for i in range(len(nodes))], dtype=np.int64)
    out = pd.DataFrame({"node": nodes, "component": nodes[labels]})
    return spark.createDataFrame(out, schema)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    on_nonconvergence: str = "warn",
    max_driver_edges: Optional[int] = 1_000_000,
) -> DataFrame:
    """Cluster a pair list into connected components: returns
    ``(node, component)`` where ``component`` is the minimum node id
    reachable from ``node``.

    Two physical strategies behind one exact semantic (round 14,
    VERDICT r13 #3 — the CC rounds owned 63% of curation_e2e):

    - **small graphs** (edge count ≤ ``max_driver_edges``, the
      overwhelmingly common near-dup case — a 0.1%-duplicate corpus of
      a billion docs yields ~1M pairs): ONE bounded ``toPandas`` of the
      checkpointed pair list, union-find with path compression on the
      driver, labels broadcast back as a DataFrame. No propagation
      rounds, no per-round shuffles, exact min-label semantics
      (np.unique sorts, so code order == id order and union-by-min-code
      IS union-by-min-id). The collect is explicitly bounded: at the
      1M default it moves ≤ ~32 MB through Arrow.
    - **large graphs** (> cap, or ``max_driver_edges=None``): the
      distributed min-label propagation below — nothing reaches the
      driver but a 1-row convergence sum per round.

    The edge count that picks the strategy is a cheap ``count()`` on
    the already-checkpointed pair list (no recomputation). Both paths
    return identical labels, so callers and oracles cannot observe
    which ran.

    Min-label propagation with pointer jumping: each round every node
    adopts the smallest label in its neighborhood (its own included),
    then shortcuts through its label's label (``component :=
    labels[component]``). The jump step halves chain depth per round,
    so convergence is O(log(diameter)) rounds — plain neighbor
    propagation alone would need O(diameter). Each round is one
    shuffle join + aggregate plus one self-join for the jump; labels
    are checkpointed via localCheckpoint to keep the plan from growing
    unboundedly on a 1000-executor cluster.

    The edge list itself is eagerly checkpointed ONCE up front: the
    incoming ``pairs`` frame is typically the tip of an expensive
    pipeline (minhash sign → band → bucket join → verify), and without
    materialization every round's neighbor join would re-run that whole
    pipeline from the scan. Convergence is detected by comparing
    ``sum(component)`` across rounds — labels are monotonically
    non-increasing under min-propagation, so the total is unchanged iff
    no label changed (exact, no join against the previous round needed).

    If labels still changed after ``max_iterations`` rounds the result
    may carry SPLIT components (extra surviving duplicates).
    ``on_nonconvergence`` controls what happens then: ``"warn"``
    (default) emits a ``GeckoWarning`` and returns the partial labels;
    ``"raise"`` raises ``RuntimeError`` — use it when the caller needs
    oracle-exact closure (the contract queries do, via
    ``minhash_dedupe_transitive``'s pass-through).
    """
    if on_nonconvergence not in ("warn", "raise"):
        raise ValueError(
            f"on_nonconvergence must be 'warn' or 'raise', got {on_nonconvergence!r}"
        )
    # materialize the (typically expensive) pair pipeline exactly ONCE:
    # building the symmetric edge list straight off `pairs` would
    # evaluate it twice (once per union branch)
    pairs_c = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint()
    if max_driver_edges is not None:
        n_edges = pairs_c.count()  # checkpoint-backed: no recompute
        if n_edges <= max_driver_edges:
            return _cc_driver_union_find(pairs_c)
    edges = (
        pairs_c.union(pairs_c.select(F.col("dst"), F.col("src")))
        .distinct()
        .localCheckpoint()  # sever lineage so rounds join a materialized RDD
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    def _total(lf: DataFrame):
        # decimal(38,0) accumulator: ids are longs, so a plain long sum
        # could overflow on a billion-node graph; the decimal sum cannot.
        return lf.agg(
            F.sum(F.col("component").cast("decimal(38, 0)")).alias("s")
        ).collect()[0]["s"]

    prev_total = _total(labels)
    converged = False
    for _ in range(max_iterations):
        # each node's candidate label: min over neighbors' labels and its own
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), "component")
        )
        propagated = (
            labels.select("node", "component")
            .union(neighbor_labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: component := labels[component]. Every label value
        # is itself a node, so the self-join always hits; chains halve in
        # depth each round, giving the O(log d) bound.
        jump = propagated.select(
            F.col("node").alias("j_node"), F.col("component").alias("j_comp")
        )
        new_labels = (
            propagated.join(jump, propagated.component == jump.j_node, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("j_comp", "component")
                ).alias("component"),
            )
            .localCheckpoint()
        )
        new_total = _total(new_labels)
        labels = new_labels
        if new_total == prev_total:
            converged = True
            break
        prev_total = new_total
    if not converged:
        msg = (
            f"connected_components did not converge within "
            f"{max_iterations} iterations; component labels may be split "
            f"(increase max_iterations)"
        )
        if on_nonconvergence == "raise":
            raise RuntimeError(msg)
        import warnings

        from gecko_spark.core import GeckoWarning

        warnings.warn(msg, GeckoWarning, stacklevel=2)
    return labels


def minhash_dedupe_transitive(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 0,
    max_iterations: int = 20,
    on_nonconvergence: str = "warn",
) -> DataFrame:
    """Drop near-duplicates with TRANSITIVE closure: candidate pairs →
    connected components → keep the min-id representative per cluster.
    A~B and B~C collapse to one survivor even when A~C was never a
    candidate pair.

    ``max_iterations`` / ``on_nonconvergence`` pass through to
    ``connected_components``; use ``on_nonconvergence="raise"`` when the
    output must match an exact-closure oracle (split components on long
    duplicate chains would otherwise silently keep extra duplicates)."""
    # `owner` keeps the signature cache live through the eager edge
    # checkpoint inside connected_components — the one evaluation of
    # the pair pipeline; after that the labels are checkpoint-backed
    # and the cache is correctly released at function exit.
    owner = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_size, seed
    )
    pairs = owner.filter(F.col("est_jaccard") >= threshold)
    comps = connected_components(
        pairs, max_iterations=max_iterations, on_nonconvergence=on_nonconvergence
    )
    losers = comps.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def select_representatives(
    labels: DataFrame,
    df: DataFrame,
    id_col: str,
    order_by: Sequence[Column],
    cluster_col: str = "component",
) -> DataFrame:
    """Pick ONE representative document per duplicate cluster —
    min-id survivorship keeps an arbitrary member; this keeps the BEST
    one under a caller-chosen ordering (quality score descending,
    length descending, …). Always append the id ascending as the final
    tiebreak so the pick is deterministic.

    ``labels`` is a ``(node, cluster)`` frame (the output of
    :func:`connected_components`); ``df`` carries the ordering columns.
    Returns ``(cluster_id, rep_id, n_members)``.

    One hash join (labels ⋈ df on id — clusters are near-dup groups,
    so ``labels`` is far smaller than the corpus and usually
    broadcastable) plus one window partitioned by cluster. Cluster
    sizes are duplicate-group sizes — bounded in practice, so the
    window partitions stay small even at corpus scale; a pathological
    giant cluster would surface in ``n_members``, not as a silent skew
    stall.
    """
    member = labels.select(
        F.col("node").alias(id_col), F.col(cluster_col).alias("cluster_id")
    ).join(df, id_col)
    w = Window.partitionBy("cluster_id").orderBy(*order_by)
    cnt = Window.partitionBy("cluster_id")
    return (
        member.withColumn("__rn__", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(cnt))
        .filter(F.col("__rn__") == 1)
        .select("cluster_id", F.col(id_col).alias("rep_id"), "n_members")
    )


def minhash_cluster_representatives(
    df: DataFrame,
    id_col: str,
    text_col: str,
    quality_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 0,
    max_iterations: int = 20,
    on_nonconvergence: str = "warn",
) -> DataFrame:
    """Near-dup clusters with QUALITY-AWARE survivorship: MinHash
    candidate pairs → transitive closure → per-cluster representative
    by ``quality_col`` descending (id ascending tiebreak).

    The pick-the-best variant of :func:`minhash_dedupe_transitive`:
    instead of keeping the minimum id, each duplicate cluster keeps its
    highest-quality member — the curation-pipeline shape ("of these 14
    mirrored copies, keep the longest/cleanest one"). Returns one row
    per cluster of size ≥ 2: ``(cluster_id, rep_id, n_members)``; to
    dedupe a corpus with it, anti-join the non-representative members.
    """
    # owner held through connected_components' eager edge checkpoint
    # (see minhash_dedupe_transitive)
    owner = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_size, seed
    )
    pairs = owner.filter(F.col("est_jaccard") >= threshold)
    comps = connected_components(
        pairs, max_iterations=max_iterations, on_nonconvergence=on_nonconvergence
    )
    return select_representatives(
        comps,
        df.select(F.col(id_col), F.col(quality_col)),
        id_col,
        [F.col(quality_col).desc(), F.col(id_col).asc()],
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_jvm(text: Column, bits: int = 64) -> Column:
    """SimHash as pure Column algebra (bigint).

    Correct but interpreted (HOF filters per bit) — prefer
    :func:`simhash` (Arrow) in hot paths."""
    tokens = F.filter(
        F.split(F.lower(text), r"\W+"), lambda t: F.length(t) > 0
    )
    hashes = F.transform(tokens, lambda t: F.xxhash64(t))
    n = F.size(hashes)

    def _bit_test(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    out = F.lit(0).cast("long")
    for i in range(bits):
        ones = F.size(F.filter(hashes, _bit_test(i)))
        bit = (ones * 2 > n).cast("long")
        out = out + F.shiftleft(bit, i)
    return out


def simhash(text: Column, bits: int = 64, seed: int = 1) -> Column:
    """SimHash over word tokens via one Arrow kernel (bigint).

    Token hash is the portable polynomial
    (functions/portable_hash.py); output bit i is the majority vote of
    an independent universal hash of each token hash,
    ``(aᵢ·u + bᵢ) mod P < P/2`` — a balanced pairwise-independent bit
    per token. The whole batch runs as two int64 matrix ops (padded
    token-hash matmul, then the 64×n_tokens universal-hash grid with
    per-doc segment sums), and — unlike a blake2b/xxhash variant — the
    exact simhash values are reproducible in any engine with 64-bit
    integers: see the ``dedup_simhash_pairs`` DuckDB oracle."""
    if bits != 64:
        raise ValueError("arrow simhash supports bits=64")
    import re as _re

    from gecko_spark.functions.portable_hash import P1, poly_hash_strings

    params = np.asarray(_perm_params(bits, seed), dtype=np.int64)
    a_col = params[:, 0][:, None]
    b_col = params[:, 1][:, None]
    half = P1 // 2
    shifts = np.arange(64, dtype=np.uint64)
    tok_re = _re.compile(r"\w+")

    @F.pandas_udf(T.LongType())
    def _simhash(texts: pd.Series) -> pd.Series:
        toks_per_doc = [tok_re.findall(t.lower()) if t else [] for t in texts]
        counts = np.fromiter(
            (len(tk) for tk in toks_per_doc), dtype=np.int64, count=len(toks_per_doc)
        )
        out = np.zeros(len(texts), dtype=np.int64)
        flat = [tok for toks in toks_per_doc for tok in toks]
        if not flat:
            return pd.Series(out)
        u = poly_hash_strings(flat, P1)
        ones_grid = ((a_col * u[None, :] + b_col) % P1 < half).astype(np.int64)
        nz = counts > 0
        # nonzero segments are contiguous in `flat`, so their start
        # offsets alone drive reduceat (zero-length segments would make
        # reduceat re-read single elements)
        offsets = np.concatenate(([0], np.cumsum(counts)))[:-1][nz]
        ones = np.add.reduceat(ones_grid, offsets, axis=1)
        votes = (ones * 2 > counts[nz][None, :]).astype(np.uint64)
        out[nz] = (votes << shifts[:, None]).sum(axis=0, dtype=np.uint64).astype(np.int64)
        return pd.Series(out)

    return _simhash(text)


def simhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    chunks: int = 4,
    max_bucket_size: Optional[int] = 5000,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``chunks`` bit-slices (by the
    pigeonhole principle, pairs within hamming distance < chunks share
    at least one identical slice), then verify the true Hamming distance
    with ``bit_count(xor)``. Returns ``(id_a, id_b, hamming)``.

    ``max_bucket_size`` guards the O(f²) in-block expansion against
    degenerate blocks (e.g. all-empty texts share simhash 0)."""
    if bits % chunks != 0:
        raise ValueError("chunks must divide bits")
    w = bits // chunks
    mask = (1 << w) - 1

    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), simhash(F.col(text_col), bits).alias("sh")
    )
    blocked = base.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * w).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc", "sh", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))

    if max_bucket_size is not None:
        # Capped path: ONE (chunk, key) exchange (round 14 opt, guide
        # §2.4 — same 3-exchanges→1 rewrite as
        # minhash_candidate_pairs): group each block's (doc, sh) rows
        # and expand pairs from the grouped array; array length == the
        # old per-block count, so the size filter reproduces
        # ``max_bucket_size`` exactly and per-task state stays bounded
        # by the cap. The grouped shape leaves `blocked` with a single
        # consumer, so the pre-rewrite MEMORY_AND_DISK persist (which
        # guarded the simhash kernel against the oversized-count
        # aggregate + both self-join sides recomputing it) is gone —
        # the kernel runs once inside one plan.
        grouped = blocked.groupBy("chunk", "key").agg(
            F.collect_list(F.struct("doc", "sh")).alias("__ds__")
        )
        pre = (
            grouped.filter(
                (F.size("__ds__") >= 2) & (F.size("__ds__") <= max_bucket_size)
            )
            .select(F.explode("__ds__").alias("a"), "__ds__")
            .select("a", F.explode("__ds__").alias("b"))
            .filter(F.col("a.doc") < F.col("b.doc"))
            .select(
                F.col("a.doc").alias("id_a"),
                F.col("b.doc").alias("id_b"),
                F.bit_count(
                    F.col("a.sh").bitwiseXOR(F.col("b.sh"))
                ).alias("hamming"),
            )
        )
        cached = None
    else:
        # Uncapped path (round 15, VERDICT r14 "what's wrong" #1): a
        # degenerate block's fan-out is UNBOUNDED, so the streaming
        # self-join (SMJ spills; a collect_list array buffers the
        # whole block in one aggregation buffer and would not) is the
        # safe shape — same convention as fingerprint_overlap_pairs.
        # Both join sides reference `blocked`, so persist it to keep
        # the simhash Arrow kernel from running once per side.
        from pyspark import StorageLevel

        blocked = cached = blocked.persist(StorageLevel.MEMORY_AND_DISK)
        a = blocked.select(
            "chunk", "key", F.col("doc").alias("id_a"), F.col("sh").alias("sh_a")
        )
        b = blocked.select(
            "chunk", "key", F.col("doc").alias("id_b"), F.col("sh").alias("sh_b")
        )
        pre = (
            a.join(b, ["chunk", "key"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                F.bit_count(
                    F.col("sh_a").bitwiseXOR(F.col("sh_b"))
                ).alias("hamming"),
            )
        )
    out = (
        pre.filter(F.col("hamming") <= max_hamming)
        .groupBy("id_a", "id_b")
        .agg(F.min("hamming").alias("hamming"))
    )
    if cached is not None:
        out = persist_until_released(cached, out)
    return out


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (inverted-index join)
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: Optional[int] = None,
) -> DataFrame:
    """Exact Jaccard similarity over character n-gram sets via an
    inverted index: explode shingles → co-occurrence counts →
    ``|A∩B| / (|A| + |B| − |A∩B|)``. Returns ``(id_a, id_b, jaccard)``.

    ``max_shingle_freq`` drops ultra-common shingles from the index (the
    classic hot-key guard — a shingle in f docs generates O(f²) pairs).

    SCALE WARNING: with the default ``max_shingle_freq=None`` this is
    the EXACT algorithm and is quadratic in every shingle's document
    frequency — on a low-entropy corpus (boilerplate, tiny vocabulary)
    the co-occurrence join explodes long before 100 TB. Set a cap
    (e.g. ``max_shingle_freq=1000``), or use
    :func:`minhash_candidate_pairs`, whose banding + bucket-size guard
    bounds the pair expansion by construction; exact mode is for
    modest corpora or verifying a sample of MinHash candidates.
    """
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(char_shingles(F.col(text_col), n)).alias("shingle"),
    )

    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("f"))
            .filter(F.col("f") > max_shingle_freq)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")

    # set sizes AFTER the hot-shingle filter: numerator and denominator
    # must count the same shingle universe or similarities are biased low
    sizes = sh.groupBy("doc").agg(F.count("*").alias("set_size"))

    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc").alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc").alias("id_b"), F.col("set_size").alias("size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: Optional[int] = None,
) -> DataFrame:
    """EXACT n-gram Jaccard via prefix filtering (AllPairs, Bayardo et
    al., WWW'07): identical output to :func:`ngram_jaccard_pairs`, but
    the candidate join only touches each document's *prefix* — its
    rarest ``|d| − ⌈t·|d|⌉ + 1`` shingles under a global
    frequency-ascending order. Two sets with Jaccard ≥ t must share a
    prefix token, so no qualifying pair is missed; candidates are then
    verified exactly with ``array_intersect`` on the full shingle sets.

    Why this is the 100 TB path: the naive inverted-index join costs
    Σ_s f(s)² over every shingle's document frequency — quadratic in the
    hottest shingle (1.9e9 intermediate rows on the sf0.1 documents
    corpus). Prefix tokens are by construction the *rarest* per
    document, so the self-join's per-key fan-out stays small even on
    low-entropy corpora; the verification join is linear in the (small)
    candidate count. Everything is JVM column algebra — the only wide
    ops are one shuffle keyed on shingle (frequency join), one
    ``groupBy(doc)``, and the prefix-token self-join.

    ``max_shingle_freq`` has the same capped-universe semantics as in
    :func:`ngram_jaccard_pairs` (sizes count the post-cap universe).
    """
    sh = df.select(
        F.col(id_col).alias("doc"),
        F.explode(char_shingles(F.col(text_col), n)).alias("shingle"),
    )
    # Per-shingle document frequency rides a partitionBy(shingle) window
    # (round 14 opt, guide §2.2/§2.4 — same single-pass rewrite as the
    # substring stats and BM25 df): the previous shape evaluated the
    # corpus-wide shingle explode THREE times — the hot-shingle count
    # aggregate, the frequency aggregate, and the join's ranked side —
    # 32 parquet scans in the sf0.01 plan dump. One window = one
    # shingle-keyed exchange over a single explode pass, and the
    # ``max_shingle_freq`` cap becomes a per-row filter on the attached
    # count (shingles are dropped whole, so the window count over the
    # pre-cap rows IS the old post-cap frequency for every survivor).
    # WindowExec buffers one shingle-group at a time in a spillable
    # array — bounded by the cap when set; uncapped, a degenerate
    # shingle degrades to disk exactly like the old join's colocated
    # bucket. Global canonical order: (frequency asc, shingle asc) —
    # both sides of the self-join must sort tokens identically or the
    # prefix theorem does not hold.
    ranked = sh.withColumn(
        "f", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    )
    if max_shingle_freq is not None:
        ranked = ranked.filter(F.col("f") <= max_shingle_freq)

    docs = (
        ranked.groupBy("doc")
        .agg(F.sort_array(F.collect_list(F.struct("f", "shingle"))).alias("tk"))
        .select(
            "doc",
            F.col("tk.shingle").alias("toks"),
            F.size("tk").alias("sz"),
        )
    )
    # prefix length p = sz − ⌈t·sz⌉ + 1 (≥ 1)
    p = F.greatest(
        F.col("sz") - F.ceil(F.lit(float(threshold)) * F.col("sz")).cast("int") + F.lit(1),
        F.lit(1),
    )
    pref = docs.select("doc", "sz", "toks", F.slice("toks", F.lit(1), p).alias("prefix"))

    from pyspark import StorageLevel

    pref = pref.persist(StorageLevel.MEMORY_AND_DISK)

    idx = pref.select("doc", "sz", F.explode("prefix").alias("token"))
    a, b = idx.alias("a"), idx.alias("b")
    # length filter: J(A,B) ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|)
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc") < F.col("b.doc"))
            & (
                F.greatest(F.col("a.sz"), F.col("b.sz")) * F.lit(float(threshold))
                <= F.least(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )

    fa = pref.select(F.col("doc").alias("id_a"), F.col("toks").alias("toks_a"), F.col("sz").alias("size_a"))
    fb = pref.select(F.col("doc").alias("id_b"), F.col("toks").alias("toks_b"), F.col("sz").alias("size_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    out = (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.col("size_a") + F.col("size_b") - inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return persist_until_released(pref, out)


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
def fingerprint_overlap_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    keep: int = 16,
    min_shared: int = 2,
    max_df: Optional[int] = None,
) -> DataFrame:
    """Near-dup candidate pairs by WINNOWING-FINGERPRINT overlap
    (MOSS-style; Schleimer et al., SIGMOD'03 "local algorithms for
    document fingerprinting"): each document keeps the ``keep``
    smallest distinct rolling ``window``-gram hashes as its signature
    (text.py::rolling_hash_fingerprint — the portable polynomial hash,
    so the whole pipeline is oracle-replayable), then an inverted index
    on fingerprints pairs documents sharing ≥ ``min_shared`` of them.

    Returns ``(id_a, id_b, n_shared, overlap)`` with
    ``overlap = round(n_shared / min(|sig_a|, |sig_b|), 6)`` (rounded
    for engine-portable comparison; signatures shorter than ``keep``
    happen on short documents).

    The MinHash alternative with different trade-offs: signatures are
    CONTENT-ADDRESSED (a shared fingerprint IS a shared substring
    window, not a probabilistic estimate), so matches are explainable
    and robust to local edits, at the cost of Jaccard calibration.

    100 TB shape: the index is ``keep`` rows per document — bounded,
    unlike the full gram index — and the self-join fans out per
    fingerprint, so frequency skew is capped by ``max_df`` (drop
    fingerprints shared by more than ``max_df`` docs — boilerplate
    headers land in everything and would otherwise drive a quadratic
    hot key; the guard is a group-size filter on the fingerprint
    index). One fingerprint-keyed shuffle + one pair aggregation.
    """
    if min_shared < 1:
        raise ValueError("min_shared must be ≥ 1")
    if keep < min_shared:
        raise ValueError("keep must be ≥ min_shared")
    from gecko_spark.operators.text import rolling_hash_fingerprint

    sigs = df.select(
        F.col(id_col).alias("__fid__"),
        rolling_hash_fingerprint(F.col(text_col), window, keep).alias("__sig__"),
    ).withColumn("__sz__", F.size("__sig__"))
    inv = sigs.select(
        "__fid__", "__sz__", F.explode("__sig__").alias("fp")
    )
    if max_df is not None:
        # Capped path = the 100 TB plan: ONE fingerprint-keyed exchange
        # (round 14 opt, guide §2.4 — the 3-exchanges→1 rewrite also
        # applied to minhash/simhash pairing). Group each fingerprint's
        # (doc, size) rows — the array length IS the document
        # frequency, so the ≤max_df filter reproduces the old
        # hot-fingerprint anti-join exactly and bounds per-task state —
        # then expand pairs from the grouped array. The old shape
        # shuffled the inverted index three times (hot-df aggregate +
        # both self-join sides) and needed a MEMORY_AND_DISK persist so
        # the rolling-hash kernel wouldn't run 3×; with a single
        # consumer the kernel runs once inside one plan and the persist
        # is gone too.
        grouped = inv.groupBy("fp").agg(
            F.collect_list(F.struct("__fid__", "__sz__")).alias("__ds__")
        )
        pairs = (
            grouped.filter(
                (F.size("__ds__") >= 2) & (F.size("__ds__") <= max_df)
            )
            .select(F.explode("__ds__").alias("a"), "__ds__")
            .select("a", F.explode("__ds__").alias("b"))
            .filter(F.col("a.__fid__") < F.col("b.__fid__"))
            .select(
                F.col("a.__fid__").alias("id_a"),
                F.col("b.__fid__").alias("id_b"),
                F.col("a.__sz__").alias("sz_a"),
                F.col("b.__sz__").alias("sz_b"),
            )
            .groupBy("id_a", "id_b", "sz_a", "sz_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
        )
        return pairs.select(
            "id_a",
            "id_b",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double") / F.least("sz_a", "sz_b"), 6
            ).alias("overlap"),
        )
    # Uncapped path: per-fingerprint fan-out is UNBOUNDED, so the
    # streaming self-join (SMJ spills; a collect_list array would not)
    # is the safe shape. Persist the inverted index: it feeds both
    # self-join sides with differing pre-exchange projections, so
    # nothing is a ReusedExchange — without the persist the
    # rolling-hash Arrow kernel runs per reference (plan showed 8
    # ArrowEvalPython nodes; 3.3 s → ~1.2 s at sf0.1).
    from pyspark import StorageLevel

    inv = _cached = inv.persist(StorageLevel.MEMORY_AND_DISK)
    a = inv.select(
        "fp", F.col("__fid__").alias("id_a"), F.col("__sz__").alias("sz_a")
    )
    b = inv.select(
        "fp", F.col("__fid__").alias("id_b"), F.col("__sz__").alias("sz_b")
    )
    pairs = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    out = pairs.select(
        "id_a",
        "id_b",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double") / F.least("sz_a", "sz_b"), 6
        ).alias("overlap"),
    )
    return persist_until_released(_cached, out)


# ---------------------------------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 0,
    dim: Optional[int] = None,
    planes: str = "random",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine similarity.

    Hyperplane LSH: ``n_planes`` signed projections form a bucket key
    (highly similar vectors collide with probability
    ``(1 − θ/π)^n``); cosine verified exactly inside the bucket with
    ``zip_with``/``aggregate`` dot products. One shuffle on the sketch.

    ``planes="random"`` (default) draws Gaussian unit hyperplanes from
    ``seed`` — best bucket geometry. ``planes="first_k"`` uses the raw
    vectors of the ``n_planes`` lowest ids as projection planes: fully
    reproducible by an independent engine (the ``dedup_embedding_pairs``
    DuckDB oracle replays sketching AND verification bit-for-bit), at
    some bucket-quality cost — the IVF ``init="first_k"`` trade.

    ``dim`` defaults to the inferred vector dimensionality (a
    mismatched plane length would null-pad the projection and silently
    produce zero pairs).
    """
    from gecko_spark.operators.similarity import (
        cosine_fold_udf,
        infer_dim,
        random_hyperplane_sketch,
    )

    if dim is None:
        dim = infer_dim(df, vec_col)
    if planes == "first_k":
        rows = df.orderBy(id_col).limit(n_planes).select(vec_col).toPandas()
        if len(rows) < n_planes:
            raise ValueError("not enough rows for first_k planes")
        plane_vecs = [[float(x) for x in v] for v in rows[vec_col]]
        sketch = F.lit(0).cast("long")
        for i, pv in enumerate(plane_vecs):
            proj = F.aggregate(
                F.zip_with(
                    F.col(vec_col), F.lit(pv), lambda x, y: x.cast("double") * y
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            sketch = sketch + F.shiftleft((proj > 0).cast("long"), i)
    elif planes == "random":
        sketch = random_hyperplane_sketch(F.col(vec_col), n_planes, seed, dim=dim)
    else:
        raise ValueError(f"unknown planes {planes!r}")

    base = df.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("vec"),
        sketch.alias("sketch"),
    )
    # persist before the self-join: both sides would recompute the
    # n_planes interpreted-HOF projections otherwise (see
    # minhash_candidate_pairs)
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    # in-bucket cosine verification via the strict-fold Arrow kernel
    # (same association as the JVM HOF/SQL list_reduce — oracle-safe),
    # matching semantic_dedupe_pairs' verification path
    _cos_fold = cosine_fold_udf()
    l, r = base.alias("l"), base.alias("r")
    out = (
        l.join(
            r,
            (F.col("l.sketch") == F.col("r.sketch")) & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            _cos_fold(F.col("l.vec"), F.col("r.vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return persist_until_released(base, out)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style): cluster embeddings, prune within clusters
# ---------------------------------------------------------------------------


def semantic_dedupe_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_clusters: Union[int, str] = 16,
    seed: int = 0,
    init: str = "kmeans",
    max_cluster_size: Optional[int] = None,
    method: str = "matrix",
) -> DataFrame:
    """Semantic near-duplicate pairs à la SemDeDup (Abbas et al. 2023):
    k-means-cluster the embedding space, then compare vectors ONLY
    within their cluster — near-duplicates land in the same cluster by
    construction, so the O(n²) cosine matrix shrinks to
    ``Σ cluster_size²``, which with ``n_clusters ≈ n/1000`` is ~1000·n.

    Differs from :func:`embedding_cosine_pairs` (hyperplane LSH) in
    recall geometry: LSH buckets are data-independent slices of the
    sphere, clusters adapt to where the corpus actually lives — the
    standard choice when embeddings are strongly clustered (web-scale
    corpora are). Candidate generation is one shuffle on the cluster
    id; centroid assignment is broadcast Column algebra
    (``similarity.ivf_assign`` — the corpus is never collected).

    ``init="kmeans"`` (default) trains centroids on a driver sample —
    best cluster geometry. ``init="first_k"`` uses the raw vectors of
    the ``n_clusters`` lowest ids: assignment then uses only strict
    sequential-fold float arithmetic, so an independent engine (the
    ``dedup_semantic_pairs`` DuckDB oracle) replays clustering AND
    verification bit-for-bit — the determinism-over-recall trade.

    ``max_cluster_size`` drops clusters above the cap before the pair
    expansion (broadcast anti-join, same guard as
    ``minhash_candidate_pairs``): one degenerate cluster — e.g. a
    near-zero-vector sink absorbing all boilerplate — would otherwise
    emit O(f²) pairs.

    Choosing ``n_clusters``: total work = assignment O(n·k) +
    in-cluster pairs O(n²/k), minimized at **k ≈ √n** — measured at a
    1.2 M-vector corpus (SCALE.md round-6 addendum): k = √n runs 9.4×
    faster than the fixed-cluster-size choice k = n/128 (whose
    assignment term is O(n²/128)) at ~0.3 pt recall cost. Pass
    ``n_clusters="auto"`` for k = √n (one count job). Set the cap a
    few × the expected cluster size n/k.

    ``method="matrix"`` (default) scores each cluster's pair triangle
    with one per-cluster BLAS gram matrix (each vector crosses Arrow
    once); ``method="fold"`` scores pair-by-pair with strict left-fold
    association — identical pair SET away from exact-threshold ulp
    ties, but the fold is what an independent oracle replays
    bit-for-bit, at Σ cluster² per-pair Arrow traffic.

    Returns ``(id_a, id_b, cosine)`` with ``id_a < id_b`` and
    ``cosine >= threshold``.
    """
    from gecko_spark.operators.similarity import ivf_assign

    if n_clusters == "auto":
        # the balanced operating point (see "Choosing n_clusters"):
        # k = sqrt(n) equalizes the O(n*k) assignment and O(n^2/k)
        # in-cluster pair terms — one count job
        n_clusters = max(16, int(df.count() ** 0.5))
    elif not isinstance(n_clusters, int):
        raise ValueError(f"n_clusters must be an int or 'auto', got {n_clusters!r}")

    assigned, _ = ivf_assign(
        df.select(F.col(id_col), F.col(vec_col)),
        vec_col,
        n_centroids=n_clusters,
        seed=seed,
        init=init,
        id_col=id_col if init == "first_k" else None,
    )
    base = assigned.select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("vec"),
        F.col("__ivf_list__").alias("cluster"),
    )
    # Explicit cluster repartition (round 15, guide §2.5): both scoring
    # shapes need hashpartitioning(cluster) anyway (the fold self-join,
    # the matrix groupBy), but AQE coalesces that tiny exchange to ONE
    # partition on small inputs — measured as a single task carrying
    # ~all the pair Arrow traffic (0.97 s of a 1.9 s entry). A
    # user-specified repartition is exempt from AQE coalescing and is
    # REUSED by the join/groupBy (same key, same partition count), so
    # this adds no exchange — it only pins the scoring width. Pair
    # sets are partition-independent (the matrix kernel sorts each
    # cluster, the fold join is set-semantics), so results are
    # unchanged.
    base = base.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "cluster"
    )
    # Persist ONLY when the plan consumes `base` more than once: the
    # max_cluster_size anti-join adds a second consumer, and the fold
    # path's self-join consumes both sides (it persists below if this
    # block didn't). The matrix path without a cap is single-consumer —
    # its grouped kernel sits in one plan — so the old unconditional
    # persist was a pure extra materialization pass there; the
    # interpreted-HOF assignment dots run once either way.
    from pyspark import StorageLevel

    _cached = None
    if max_cluster_size is not None:
        # `base` is reassigned below — tie the cache release to the
        # frame that actually holds the persist
        base = _cached = base.persist(StorageLevel.MEMORY_AND_DISK)
        oversized = (
            base.groupBy("cluster")
            .agg(F.count("*").alias("__n__"))
            .filter(F.col("__n__") > max_cluster_size)
            .select("cluster")
        )
        base = base.join(F.broadcast(oversized), ["cluster"], "left_anti")

    if method == "matrix":
        # 100 TB path: ship each CLUSTER through Arrow once and score
        # its full pair triangle with one BLAS gram matrix, emitting
        # only pairs ≥ threshold. The fold path below transfers both
        # 64-dim vectors PER PAIR (Σ cluster² · 2·dim floats — 80+ GB
        # of Arrow traffic at a 1 M-vector corpus), the matrix path
        # transfers each vector once (Σ cluster · dim) plus the tiny
        # survivor set; memory per task is cluster_size² doubles,
        # bounded by max_cluster_size. BLAS association may differ from
        # the sequential fold in the last ulp on exact-threshold ties —
        # use method="fold" for oracle-replayable scoring.
        id_type = df.schema[id_col].dataType.simpleString()
        thr = float(threshold)

        def _empty(pdf: pd.DataFrame) -> pd.DataFrame:
            # typed empty frame (id dtype from the input — an untyped
            # empty float frame would fight the Arrow schema)
            return pd.DataFrame(
                {
                    "id_a": pdf["doc"].iloc[:0],
                    "id_b": pdf["doc"].iloc[:0],
                    "cosine": pd.Series(dtype="float64"),
                }
            )

        def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            m = len(pdf)
            if m < 2:
                return _empty(pdf)
            pdf = pdf.sort_values("doc", ignore_index=True)
            x = np.array(pdf["vec"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(x, axis=1)
            norms[norms == 0] = 1.0
            xn = x / norms[:, None]
            sims = xn @ xn.T
            ia, ib = np.triu_indices(m, k=1)
            keep = sims[ia, ib] >= thr
            if not keep.any():
                return _empty(pdf)
            ids = pdf["doc"].to_numpy()
            return pd.DataFrame(
                {
                    "id_a": ids[ia[keep]],
                    "id_b": ids[ib[keep]],
                    "cosine": sims[ia[keep], ib[keep]],
                }
            )

        out = base.groupBy("cluster").applyInPandas(
            _cluster_pairs, f"id_a {id_type}, id_b {id_type}, cosine double"
        )
        return out if _cached is None else persist_until_released(_cached, out)

    if method != "fold":
        raise ValueError(f"method must be 'matrix' or 'fold', got {method!r}")
    # one Arrow kernel scores every candidate pair with strict
    # left-fold association (similarity.cosine_fold_udf) — bit-identical
    # to the oracle while avoiding the interpreted zip_with/aggregate
    # HOF in the join condition (measured 5.8 s → 2.1 s at sf0.1; the
    # remainder is the Arrow transfer of both vectors per pair).
    # Round-14 note: a grouped per-cluster fold kernel (each vector
    # crossing Arrow once instead of per pair) was built,
    # parity-verified bit-exact (diff=0 over 44,426 pairs,
    # scratch/semantic_fold_ab_r14.log) and REJECTED on measurement:
    # interleaved min-of-5 at sf0.1 showed min 1.88→3.78 s, med
    # 2.48→6.87 s — groupBy(cluster) caps parallelism at n_clusters
    # tasks (16 here), while the self-join spreads per-pair scoring
    # across every core, and at catalogue scale the Arrow-traffic term
    # the grouped shape saves is negligible. The bit-parity reference
    # test (test_semantic_fold_grouped_matches_pair_kernel) stays: it
    # pins this path's fold arithmetic against a sequential replay.
    from gecko_spark.operators.similarity import cosine_fold_udf

    if _cached is None:
        # both self-join sides consume `base`: persist, or the
        # n_clusters interpreted-HOF assignment dots run once per side
        base = _cached = base.persist(StorageLevel.MEMORY_AND_DISK)
    _cos_fold = cosine_fold_udf()
    l, r = base.alias("l"), base.alias("r")
    out = (
        l.join(
            r,
            (F.col("l.cluster") == F.col("r.cluster"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            _cos_fold(F.col("l.vec"), F.col("r.vec")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    return persist_until_released(_cached, out)


def semantic_dedupe(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_clusters: Union[int, str] = 16,
    seed: int = 0,
    init: str = "kmeans",
    max_cluster_size: Optional[int] = None,
    method: str = "matrix",
) -> DataFrame:
    """Drop semantic near-duplicates: for every within-cluster pair at
    or above ``threshold`` the higher id is removed (single-pass min-id
    survivorship, same convention as :func:`minhash_dedupe`; feed
    :func:`semantic_dedupe_pairs` into :func:`connected_components`
    when transitive closure is needed)."""
    pairs = semantic_dedupe_pairs(
        df, id_col, vec_col, threshold, n_clusters, seed, init,
        max_cluster_size, method,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    # `pairs` is the cache owner (persist_until_released); tie it to
    # the returned plan so the internal cache survives until the caller
    # drops the result
    return adopt_cache_owner(df.join(losers, id_col, "left_anti"), pairs)


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted signature index
# ---------------------------------------------------------------------------


def write_minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    num_hashes: int = 64,
    shingle_size: int = 5,
    seed: int = 0,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's MinHash signatures as a parquet index
    ``(doc, sig)`` — the continuous-ingestion companion to
    :func:`minhash_candidate_pairs`: signatures are computed ONCE per
    corpus lifetime, and each new batch dedupes against the index
    without touching the historical text. ``mode="append"`` grows the
    index with already-accepted batches.

    Round 15 note: a split-starvation guard (``ensure_parallelism``)
    was tried on both this write and ``dedupe_against_index``'s sides
    and REVERTED on measurement — interleaved process-level A/B at
    sf0.1 read min 3.1→3.9 s for the whole incremental entry: the
    widened stages' per-task overhead exceeds the tiny serial kernel
    cost at guard-firing input sizes, and at scale (many splits) the
    guard is a no-op anyway, so it can only ever fire where it loses."""
    sig = minhash_signature(F.col(text_col), num_hashes, shingle_size, seed)
    df.select(F.col(id_col).alias("doc"), sig.alias("sig")).write.mode(mode).parquet(
        path
    )


def dedupe_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 5,
    seed: int = 0,
    max_bucket_size: Optional[int] = 5000,
) -> DataFrame:
    """New-batch rows that are NOT near-duplicates of the indexed
    corpus (``index`` = ``(doc, sig)`` from :func:`write_minhash_index`
    — pass the same num_hashes/shingle_size/seed).

    Scale shape: signatures are computed for the NEW batch only; both
    sides band-explode to (doc, band, bucket) and meet in ONE equi-join
    keyed on (band, bucket) — the historical corpus is never re-read,
    re-tokenized, or re-signed. Collisions verify against the full
    signatures (est_jaccard ≥ threshold) before a row is dropped; the
    hot-bucket guard caps degenerate buckets on the INDEX side the same
    way minhash_candidate_pairs does. Intra-batch duplicates are NOT
    removed here — run minhash_dedupe on the accepted batch before
    appending it to the index.

    LAZY-EVALUATION WARNING: the returned DataFrame references
    ``index`` lazily. Materialize it (write it out, or checkpoint)
    BEFORE appending the accepted batch to the index — re-evaluating
    the plan after the append dedupes the batch against ITSELF and
    silently yields zero rows (see examples/incremental_ingest.py)."""
    if num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    rpb = num_hashes // bands

    sig = minhash_signature(F.col(text_col), num_hashes, shingle_size, seed)
    # The new batch's signatures are referenced TWICE (the band explode
    # below and the verify join's __sa__ side) — without a persist the
    # Arrow signature kernel re-runs over the whole batch per reference,
    # the exact recompute minhash_candidate_pairs already pins (round
    # 14 opt; same 2× kernel finding). MEMORY_AND_DISK like the batch
    # path; lifetime tied to the returned plan via persist_until_released.
    from pyspark import StorageLevel

    new_sig = new_df.select(F.col(id_col).alias("doc"), sig.alias("sig")).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    def band_frame(s: DataFrame) -> DataFrame:
        return s.select(
            "doc",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.slice(F.col("sig"), b * rpb + 1, rpb).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    new_banded = band_frame(new_sig)
    idx_banded = band_frame(index)
    # ONE (band, bucket) pass over the INDEX side (round 14 opt, guide
    # §2.4 — the grouped-pairing shape from minhash_candidate_pairs
    # applied to the new-vs-index join): group each index bucket's docs
    # once; the array length IS the index-side bucket size, so the
    # ≤max_bucket_size filter reproduces the old hot-bucket anti-join
    # exactly (a dropped bucket stops matching new docs entirely,
    # either way). The old shape consumed the exploded index TWICE —
    # the per-bucket count aggregate plus the equi-join side — i.e. two
    # reads of the index parquet and an extra keyed shuffle of the
    # ×bands explode at any scale. Per-task state stays bounded by the
    # cap (≤5000 ids per array); with the cap disabled the expansion
    # matches the old in-bucket join's worst case, which also colocated
    # each bucket.
    grouped = idx_banded.groupBy("band", "bucket").agg(
        F.collect_list("doc").alias("__idocs__")
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("__idocs__") <= max_bucket_size)
    cand = (
        new_banded.join(grouped, ["band", "bucket"])
        .select(
            F.col("doc").alias("new_doc"),
            F.explode("__idocs__").alias("idx_doc"),
        )
        .distinct()
    )

    @F.pandas_udf(T.DoubleType())
    def _sig_sim(sa: pd.Series, sb: pd.Series) -> pd.Series:
        if not len(sa):
            return pd.Series(np.empty(0, dtype=np.float64))
        a = np.stack(sa.to_numpy())
        b = np.stack(sb.to_numpy())
        return pd.Series((a == b).sum(axis=1) / float(a.shape[1]))

    ns = new_sig.select(F.col("doc").alias("new_doc"), F.col("sig").alias("__sa__"))
    isg = index.select(F.col("doc").alias("idx_doc"), F.col("sig").alias("__sb__"))
    dupes = (
        cand.join(ns, "new_doc")
        .join(isg, "idx_doc")
        .filter(_sig_sim(F.col("__sa__"), F.col("__sb__")) >= threshold)
        .select(F.col("new_doc").alias(id_col))
        .distinct()
    )
    return persist_until_released(
        new_sig, new_df.join(dupes, id_col, "left_anti")
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — ExactSubstr): find character
# spans duplicated ACROSS documents and excise them, the complement of
# whole-document MinHash dedup (boilerplate, licence blocks, quoted
# chunks survive document-level near-dup because the containing docs
# differ).
#
# Spark shape instead of Lee's suffix array (single-machine, O(corpus)
# RAM): hash every length-`window` char window (stride 1, the same
# portable two-prime polynomial as the winnowing fingerprints, combined
# to 62 bits so hash collisions are ~absent at corpus scale), one hash
# aggregation finds windows seen in >1 doc, one join flags their
# positions, and per-doc interval merge turns runs of flagged windows
# into maximal spans — a duplicated region of length L >= window yields
# positions p..p+L-window and merges back to EXACTLY [p, p+L). Three
# shuffles total (agg, flag join, per-doc merge), never an all-pairs
# product, and the suffix array's RAM bound becomes shuffle bandwidth.
#
# The stride-1 row volume (~1 row per char) is the honest cost of EXACT
# detection — same asymptotics as the suffix array. `winnow > 1` is the
# scale knob: content-anchored position sampling (Schleimer et al. 2003
# winnowing, the same guarantee the fingerprint op uses) keeps ~2/(w+1)
# of the rows and still detects every duplicated span of length
# >= window + winnow - 1, at the cost of span edges quantized by up to
# `winnow` chars.
# ---------------------------------------------------------------------------


def substring_window_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    winnow: int = 1,
) -> DataFrame:
    """(id, pos, h): the combined two-prime hash of every length-
    ``window`` char window of the raw text (one whole-string hash at
    pos 0 for shorter docs). ``winnow > 1`` keeps only the rightmost-
    minimum position of each ``winnow`` consecutive hashes — the
    winnowing selection, identical on identical content regardless of
    surrounding bytes, so two copies of a span select the same relative
    positions. One Arrow kernel; the only movement is the parallelism
    guard's round-robin when the scan is split-starved (a single small
    parquet file otherwise runs the whole corpus in one task)."""
    from gecko_spark.functions.portable_hash import P1, P2, batch_window_hashes

    id_type = df.schema[id_col].dataType.simpleString()
    df = ensure_parallelism(df)

    def _wh(batches):
        for pdf in batches:
            # numpy column assembly, never element-wise Python lists:
            # a single multi-MB document yields millions of positions
            # and boxing them through list.extend dominated the kernel
            # (r11 pathological profiling — ~3× on giant docs).
            # Round 15: both primes' window hashes for the WHOLE batch
            # come from one concatenated pass (batch_window_hashes,
            # guide §4 — values bit-identical to the per-row kernel);
            # the per-doc loop only slices and winnows.
            (h1, h2), counts = batch_window_hashes(
                list(pdf[text_col]), window, (P1, P2)
            )
            h_all = h1 * P2 + h2
            cum = np.zeros(len(counts) + 1, dtype=np.int64)
            np.cumsum(counts, out=cum[1:])
            per_doc: list = []
            for i, did in enumerate(pdf[id_col]):
                if not counts[i]:
                    continue
                h = h_all[cum[i]:cum[i + 1]]
                if winnow > 1 and len(h) > winnow:
                    win = np.lib.stride_tricks.sliding_window_view(h, winnow)
                    # rightmost minimum per window (standard winnowing
                    # tie-break): argmin over the reversed window
                    idx = (winnow - 1) - win[:, ::-1].argmin(axis=1)
                    pos = np.unique(np.arange(len(win)) + idx)
                else:
                    pos = np.arange(len(h))
                per_doc.append((did, pos, h[pos]))
            if per_doc:
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(
                            np.array([d for d, _, _ in per_doc], dtype=object),
                            [len(p) for _, p, _ in per_doc],
                        ),
                        "pos": np.concatenate([p for _, p, _ in per_doc]),
                        "h": np.concatenate([hh for _, _, hh in per_doc]),
                    }
                )
            else:
                yield pd.DataFrame({id_col: [], "pos": [], "h": []})

    return df.select(id_col, text_col).mapInPandas(
        _wh, f"{id_col} {id_type}, pos long, h long"
    )


def substring_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    winnow: int = 1,
    cross_doc_only: bool = True,
    keep: str = "none",
) -> DataFrame:
    """Maximal duplicated character spans: ``(id, span_start,
    span_end)``, span_end exclusive and clamped to the doc length.

    ``cross_doc_only=True`` flags only windows appearing in more than
    one document (within-doc repetition is the Gopher repetition gate's
    job); ``False`` also flags within-doc repeats. ``keep="first"``
    exempts each duplicated window's first occurrence (lowest (id,
    pos)) so one copy survives — the Lee et al. dedup semantics, used
    by :func:`substring_dedupe`; ``keep="none"`` reports every copy —
    the audit view.

    Plan: ONE hash-keyed exchange — per-hash duplication stats
    (count, min/max doc, first occurrence) ride a ``partitionBy(h)``
    window over the positions frame (round 14 opt, guide §2.2: the
    previous shape shuffled the positions frame TWICE, once into the
    stats hash-agg and once into the flag equi-join, behind a persist
    so the hash kernel wouldn't run per consumer; the window shape has
    a single consumer, so the kernel streams once and both the persist
    materialization pass and the second exchange are gone).
    ``WindowExec`` buffers one hash-group at a time in a spillable
    array, so a boilerplate window shared by millions of docs degrades
    to disk instead of OOM — unlike a ``collect_list`` bucket array,
    which is why this path uses the window shape rather than the
    grouped-pairing shape of ``minhash_candidate_pairs``. Then one
    per-doc merge; the span clamp joins the spans (small) against the
    doc lengths with the spans BROADCAST — the corpus never shuffles."""
    if keep not in ("none", "first"):
        raise ValueError(f'keep must be "none" or "first", got {keep!r}')
    from pyspark.sql.window import Window

    wh = substring_window_positions(df, id_col, text_col, window, winnow)
    w = Window.partitionBy("h")
    ann = wh.select(
        id_col,
        "pos",
        F.count(F.lit(1)).over(w).alias("__n__"),
        F.min(id_col).over(w).alias("__mn__"),
        F.max(id_col).over(w).alias("__mx__"),
        F.min(F.struct(id_col, "pos")).over(w).alias("__first__"),
    )
    cond = (
        (F.col("__mn__") != F.col("__mx__"))
        if cross_doc_only
        else (F.col("__n__") > 1)
    )
    flagged = ann.filter(cond)
    if keep == "first":
        flagged = flagged.filter(
            ~(
                (F.col(id_col) == F.col(f"__first__.{id_col}"))
                & (F.col("pos") == F.col("__first__.pos"))
            )
        )
    flagged = flagged.select(id_col, "pos")
    merged = _merged_spans(flagged, id_col, window)
    return _clamped_spans(df, merged, id_col, text_col)


def substring_dedupe(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    winnow: int = 1,
    cross_doc_only: bool = True,
    out_col: str = "text_clean",
) -> DataFrame:
    """Excise duplicated spans, keeping each duplicated window's FIRST
    occurrence (lowest (id, pos)) — every other copy is cut from the
    text. Adds ``out_col``; all input columns ride along. The span
    removal is pure Column algebra: an ``aggregate`` fold over the
    per-doc sorted span list stitches the surviving segments — no
    Python in the reconstruction path."""
    spans = substring_dup_spans(
        df, id_col, text_col, window, winnow, cross_doc_only, keep="first"
    )  # round 14: cache-free (single-pass window shape) — no owner tie
    return _excise_spans(df, spans, id_col, text_col, out_col)


def _excise_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    out_col: str,
) -> DataFrame:
    """Cut ``(id, span_start, span_end)`` spans out of each doc's text
    into ``out_col`` — pure Column algebra: an ``aggregate`` fold over
    the per-doc sorted span list stitches the surviving segments, no
    Python in the reconstruction path. Docs with no spans pass through
    byte-identical (NULL text included). Shared by the batch excision
    (:func:`substring_dedupe`) and the incremental
    (:func:`substring_dedupe_against_index`)."""
    per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("__spans__")
    )
    text = F.coalesce(F.col(text_col), F.lit(""))
    stitched = F.aggregate(
        F.col("__spans__"),
        F.struct(F.lit(0).cast("long").alias("done"), F.lit("").alias("acc")),
        lambda a, sp: F.struct(
            sp["span_end"].alias("done"),
            F.concat(
                a["acc"],
                F.substring(
                    text, (a["done"] + 1).cast("int"),
                    F.greatest(sp["span_start"] - a["done"], F.lit(0).cast("long")).cast("int"),
                ),
            ).alias("acc"),
        ),
        lambda a: F.concat(
            a["acc"], F.substring(text, (a["done"] + 1).cast("int"), F.length(text))
        ),
    )
    out = df.join(per_doc, id_col, "left")
    return out.withColumn(
        out_col,
        F.when(F.col("__spans__").isNull(), F.col(text_col)).otherwise(stitched),
    ).drop("__spans__")


# Per-(doc, chunk) group ceiling for the position merge. At stride-1
# one flagged position per char, so 1<<22 positions ≈ 32 MB of int64
# per aggregation group worst-case — safely inside an executor task,
# and far above any ordinary document (a chunk boundary only matters
# past ~4M flagged positions in ONE doc). The level-2 merge then sees
# SPANS, not positions: a pathological 1 GB fully-duplicated document
# costs ~256 level-1 rows instead of one 8 GB collect_list row
# (VERDICT r10 #6 — this was the suffix-array-parity memory hole).
_MERGE_CHUNK_POSITIONS = 1 << 22


def _merged_spans(
    flagged: DataFrame,
    id_col: str,
    window: int,
    chunk: int = _MERGE_CHUNK_POSITIONS,
) -> DataFrame:
    """Flagged (id, pos) rows → merged maximal [span_start, span_end)
    rows, via a TWO-LEVEL merge so no aggregation row is ever
    O(doc length): level 1 merges positions within (id, pos÷chunk)
    groups (bounded by ``chunk`` int64s), level 2 merges the resulting
    span structs per doc — the second shuffle carries only merged
    spans, orders of magnitude fewer rows than positions. Chunking is
    semantics-free: a position merges into the previous span iff
    ``pos <= prev_end``, and that exact condition is re-applied to the
    level-1 span boundaries (``s <= prev_e``), so spans split by a
    chunk boundary re-join identically to the single-level merge."""
    lvl1 = (
        flagged.withColumn("__ck__", (F.col("pos") - F.col("pos") % chunk))
        .groupBy(id_col, "__ck__")
        .agg(F.collect_list("pos").alias("__ps__"))
        .select(
            id_col, F.explode(_span_merge_udf(window)(F.col("__ps__"))).alias("__sp__")
        )
    )
    return (
        lvl1.groupBy(id_col)
        .agg(F.sort_array(F.collect_list("__sp__")).alias("__sps__"))
        .select(
            id_col, F.explode(_span_list_merge_udf()(F.col("__sps__"))).alias("__sp__")
        )
        .select(
            id_col,
            F.col("__sp__.s").alias("span_start"),
            F.col("__sp__.e").alias("span_end"),
        )
    )


def _span_list_merge_udf():
    """Arrow kernel for the level-2 merge: SORTED [s, e) span structs →
    merged spans (overlapping or touching join, ``s <= prev_e`` — the
    same touching condition the position-level merge applies)."""

    @F.pandas_udf(T.ArrayType(
        T.StructType([
            T.StructField("s", T.LongType()),
            T.StructField("e", T.LongType()),
        ])
    ))
    def _merge(spans: pd.Series) -> pd.Series:
        out = []
        for arr in spans:
            merged = []
            for sp in arr:
                s, e = int(sp["s"]), int(sp["e"])
                if merged and s <= merged[-1]["e"]:
                    if e > merged[-1]["e"]:
                        merged[-1]["e"] = e
                else:
                    merged.append({"s": s, "e": e})
            out.append(merged)
        return pd.Series(out)

    return _merge


def _span_merge_udf(window: int):
    """Arrow kernel: sorted flagged positions -> merged [s, e) interval
    structs (overlapping or touching length-``window`` windows join).
    Shared by the batch and the against-index span operators."""

    @F.pandas_udf(T.ArrayType(
        T.StructType([
            T.StructField("s", T.LongType()),
            T.StructField("e", T.LongType()),
        ])
    ))
    def _merge(poss: pd.Series) -> pd.Series:
        out = []
        for arr in poss:
            ps = np.sort(np.asarray(arr, dtype=np.int64))
            # vectorized run detection: after processing sorted pos
            # p_{i-1} the open span's end is exactly p_{i-1} + window,
            # so p_i starts a NEW span iff p_i > p_{i-1} + window —
            # the per-position Python loop this replaces was the merge
            # cost on multi-MB single docs (r11 pathological profiling)
            brk = np.nonzero(ps[1:] > ps[:-1] + window)[0]
            starts = ps[np.concatenate(([0], brk + 1))]
            ends = ps[np.concatenate((brk, [len(ps) - 1]))] + window
            out.append(
                [{"s": int(s), "e": int(e)} for s, e in zip(starts, ends)]
            )
        return pd.Series(out)

    return _merge


def _clamped_spans(
    src_df, merged, id_col: str, text_col: str
):
    """Join merged spans (small, broadcast) against the doc lengths and
    clamp span_end — the corpus side never shuffles."""
    lens = src_df.select(
        id_col, F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("__len__")
    )
    return (
        lens.join(F.broadcast(merged), id_col)
        .select(
            id_col,
            "span_start",
            F.least(F.col("span_end"), F.col("__len__").cast("long")).alias(
                "span_end"
            ),
        )
    )


def write_substring_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    window: int = 40,
    winnow: int = 1,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's duplicated-window hash set as a parquet
    index ``(h)`` — the continuous-ingestion companion to
    :func:`substring_dup_spans`, mirroring :func:`write_minhash_index`:
    window hashes are computed ONCE per corpus lifetime, and each new
    batch finds its against-history duplicated spans without re-hashing
    (or even re-reading) the historical text. The index stores every
    DISTINCT window hash of the corpus (8 bytes per distinct window —
    at winnow=8 roughly corpus_chars/4.5 rows before dictionary
    compression). ``mode="append"`` grows it with accepted batches;
    duplicate hash rows across appends are harmless (the probe is a
    semi-join)."""
    pos = substring_window_positions(df, id_col, text_col, window, winnow)
    pos.select("h").distinct().write.mode(mode).parquet(path)


def substring_spans_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    winnow: int = 1,
) -> DataFrame:
    """Duplicated spans of the NEW batch against a persisted corpus
    index (``index`` = ``(h)`` from :func:`write_substring_index` —
    pass the same window/winnow): ``(id, span_start, span_end)`` for
    every new-batch region whose windows already exist in the corpus.

    Scale shape: window hashes are computed for the new batch only; the
    probe is ONE semi-join of the batch's (id, pos, h) rows against the
    index hash set — the historical corpus is never re-read or
    re-hashed. Intra-batch duplicates are NOT flagged here — run
    :func:`substring_dup_spans` on the accepted batch before appending
    its hashes to the index (same split as ``dedupe_against_index``)."""
    pos = substring_window_positions(new_df, id_col, text_col, window, winnow)
    flagged = pos.join(index.select("h").distinct(), "h", "left_semi").select(
        id_col, "pos"
    )
    merged = _merged_spans(flagged, id_col, window)
    return _clamped_spans(new_df, merged, id_col, text_col)


def substring_dedupe_against_index(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 40,
    winnow: int = 1,
    out_col: str = "text_clean",
) -> DataFrame:
    """Incremental EXCISION: cut every new-batch span whose windows
    already exist in the persisted corpus index — the continuous-
    ingestion completion of :func:`substring_dedupe`, pairing with
    :func:`substring_spans_against_index` the way
    ``dedupe_against_index`` pairs with ``minhash_candidate_pairs``.
    The history holds every surviving copy by construction (it is the
    index), so against-history spans are cut UNCONDITIONALLY — there is
    no keep-first exemption here; first-occurrence survival within the
    new batch itself is :func:`substring_dedupe`'s job before the
    accepted batch's hashes are appended to the index.

    Scale shape: one semi-join probe of the batch's window hashes
    against the index (history never re-read or re-hashed), the
    two-level bounded merge, and the pure-Column stitch — the new
    batch's text never shuffles (the spans side broadcasts)."""
    spans = substring_spans_against_index(
        new_df, index, id_col, text_col, window, winnow
    )
    return _excise_spans(new_df, spans, id_col, text_col, out_col)
