"""Property tests: the substring-algebra edit mutators must agree
EXACTLY, row for row, with an independent pure-Python model of the same
LCG draws and edit semantics, on arbitrary strings.

This is the strongest correctness statement available for randomized
operators: the Spark SQL expression tree and the Python model share
only the documented draw formula (core.lcg_uniform_sql) — any
discrepancy in position arithmetic, eligibility, or selection shows up
as a mismatch.
"""

from __future__ import annotations

import math
import string as _string

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from gecko_spark.core import LCG_A, LCG_C, LCG_M, LcgRandom
from gecko_spark.operators import mutators as M

CHARSET = _string.ascii_letters


# -- pure-Python model of core.lcg_uniform_sql ------------------------------


def _u(key: int, seed: int, salt: int, stream: int) -> float:
    c1 = (seed * 7919 + stream * 15485863 + salt * 104729 + LCG_C) % LCG_M
    step1 = ((abs(key) % LCG_M) * LCG_A + c1) % LCG_M
    return ((step1 * LCG_A + LCG_C) % LCG_M) / float(LCG_M)


def _model(mut_name: str, key: int, s: str, p: float, seed: int) -> str:
    stream = 1  # Mutator.apply forks once per column: fork(0) -> stream 1
    sel = _u(key, seed, 0, stream) < p
    n = len(s)
    if mut_name == "delete":
        if not (sel and n >= 1):
            return s
        pos = math.floor(_u(key, seed, 1, stream) * n)
        return s[:pos] + s[pos + 1:]
    if mut_name == "insert":
        if not sel:
            return s
        pos = math.floor(_u(key, seed, 1, stream) * (n + 1))
        ch = CHARSET[math.floor(_u(key, seed, 2, stream) * len(CHARSET))]
        return s[:pos] + ch + s[pos:]
    if mut_name == "substitute":
        if not (sel and n >= 1):
            return s
        pos = math.floor(_u(key, seed, 1, stream) * n)
        ch = CHARSET[math.floor(_u(key, seed, 2, stream) * len(CHARSET))]
        return s[:pos] + ch + s[pos + 1:]
    if mut_name == "transpose":
        if not (sel and n >= 2):
            return s
        pos = math.floor(_u(key, seed, 1, stream) * (n - 1))
        return s[:pos] + s[pos + 1] + s[pos] + s[pos + 2:]
    raise AssertionError(mut_name)


MUTS = {
    "delete": M.with_delete,
    "insert": M.with_insert,
    "substitute": M.with_substitute,
    "transpose": M.with_transpose,
}

# printable ASCII plus a few multibyte chars (Spark substr and Python
# slicing must both count codepoints)
TEXT = st.text(
    alphabet=st.sampled_from(
        list(_string.ascii_letters + _string.digits + " .,-_#ÄöüßÉ漢字")
    ),
    max_size=24,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(texts=st.lists(TEXT, min_size=1, max_size=40), data=st.data())
def test_edit_mutators_match_python_model(spark, texts, data):
    mut_name = data.draw(st.sampled_from(sorted(MUTS)))
    p = data.draw(st.sampled_from([0.3, 0.7, 1.0]))
    seed = data.draw(st.integers(min_value=0, max_value=10_000))

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "k long, s string"
    )
    out = MUTS[mut_name]().apply(df, "s", p, rand=LcgRandom("k", seed))
    got = {r["k"]: r["s"] for r in out.collect()}
    for i, t in enumerate(texts):
        assert got[i] == _model(mut_name, i, t, p, seed), (
            f"{mut_name} p={p} seed={seed} key={i} input={t!r}"
        )


# ---------------------------------------------------------------------------
# Web-cleanup regex algebra vs a pure-Python model (round 5)
# ---------------------------------------------------------------------------
# strip_html / normalize_url are regexp chains executed by the JVM's
# java.util.regex; the DuckDB oracle replays them in RE2. This model
# replays them in Python `re` — a third engine. Agreement across random
# inputs is strong evidence the patterns sit in the portable subset.

import re as _re


def _model_strip_html(t):
    if t is None:
        return ""
    t = _re.sub(r"(?s)<!--.*?-->", " ", t)
    t = _re.sub(r"(?is)<script\b[^>]*>.*?</script[^>]*>", " ", t)
    t = _re.sub(r"(?is)<style\b[^>]*>.*?</style[^>]*>", " ", t)
    t = _re.sub(r"<[^>]*>", " ", t)
    for ent, ch in [("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"),
                    ("&amp;", "&")]:
        t = t.replace(ent, ch)
    return _re.sub(r"\s+", " ", t).strip()


def _model_normalize_url(u):
    if u is None:
        u = ""
    u = u.strip()
    m = _re.match(r"^([A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/?#]*)", u)
    if m and len(m.group(1)) > 0:
        tail_m = _re.match(
            r"(?s)^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?[^/?#]*(.*)$", u
        )
        u = m.group(1).lower() + (tail_m.group(1) if tail_m else "")
    u = _re.sub(r"^(http://[^/?#]*):80([/?#]|$)", r"\1\2", u)
    u = _re.sub(r"^(https://[^/?#]*):443([/?#]|$)", r"\1\2", u)
    u = _re.sub(r"(?s)#.*$", "", u)
    u = _re.sub(r"[?&]utm_[A-Za-z0-9_]*=[^&#]*", "", u)
    u = _re.sub(r"^([^?&]*)&", r"\1?", u)
    u = _re.sub(r"[?&]+$", "", u)
    return u


_HTML_FRAGS = list("abX2 <>/!-&;#\"'=.") + [
    "<p>", "</p>", "<script>", "</script>", "<style>", "</style>",
    "<!--", "-->", "&amp;", "&lt;", "&#39;", "&nbsp;",
]
HTMLish = st.lists(st.sampled_from(_HTML_FRAGS), max_size=16).map("".join)

_URL_FRAGS = list("abC9:/?#&=@._-%") + [
    "http://", "HTTPS://", "www.", ":80/", ":443", "?utm_a=1",
    "&utm_b=2", "&id=3", "#frag", "example.com", "@host",
]
URLish = st.lists(st.sampled_from(_URL_FRAGS), max_size=12).map("".join)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=st.lists(HTMLish, min_size=1, max_size=30))
def test_strip_html_matches_python_model(spark, texts):
    from gecko_spark.operators.text import strip_html

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "k long, s string"
    )
    got = {
        r["k"]: r["c"]
        for r in df.select("k", strip_html(F.col("s")).alias("c")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _model_strip_html(t), f"input={t!r}"


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(urls=st.lists(URLish, min_size=1, max_size=30))
def test_normalize_url_matches_python_model(spark, urls):
    from gecko_spark.operators.text import normalize_url

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "k long, s string"
    )
    got = {
        r["k"]: r["n"]
        for r in df.select("k", normalize_url(F.col("s")).alias("n")).collect()
    }
    for i, u in enumerate(urls):
        assert got[i] == _model_normalize_url(u), f"input={u!r}"


# ---------------------------------------------------------------------------
# Heavy hitters vs the naive full GROUP BY (round 5)
# ---------------------------------------------------------------------------
# heavy_hitters claims EXACT equality with the unbounded-memory naive
# computation for every input and φ; Misra–Gries pruning plus the
# candidate recount is where an off-by-one in the error bound would
# hide. Random multisets over a small alphabet (dense collisions,
# adversarial for tie handling) + random rational thresholds.


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    counts=st.lists(
        st.tuples(st.integers(0, 25), st.integers(1, 60)), min_size=1, max_size=25
    ),
    phi=st.sampled_from([(1, 3), (1, 7), (2, 9), (1, 20), (3, 10)]),
    parts=st.integers(1, 6),
)
def test_heavy_hitters_match_naive_model(spark, counts, phi, parts):
    from gecko_spark.operators.sketches import heavy_hitters

    bag: dict[str, int] = {}
    for v, c in counts:
        bag[str(v)] = bag.get(str(v), 0) + c
    rows = [(val,) for val, c in bag.items() for _ in range(c)]
    n = sum(bag.values())
    num, den = phi
    df = spark.createDataFrame(rows, "x string").repartition(parts)
    got = {
        (r["value"], r["cnt"]) for r in heavy_hitters(df, "x", num, den).collect()
    }
    want = {(v, c) for v, c in bag.items() if c * den > num * n}
    assert got == want, (bag, phi, parts)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    counts=st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 40)), min_size=1, max_size=30
    ),
    k=st.integers(1, 6),
    parts=st.integers(1, 5),
)
def test_top_k_by_count_matches_sorted_model(spark, counts, k, parts):
    from gecko_spark.operators.sketches import top_k_by_count

    bag: dict[str, int] = {}
    for v, c in counts:
        bag[str(v)] = bag.get(str(v), 0) + c
    rows = [(val,) for val, c in bag.items() for _ in range(c)]
    df = spark.createDataFrame(rows, "x string").repartition(parts)
    # capacity covering the whole support → the complete-recount
    # certificate applies for ANY distribution, including all-ties
    got = [
        (r["value"], r["cnt"], r["rank"])
        for r in top_k_by_count(df, "x", k, capacity=max(k, len(bag))).collect()
    ]
    want = [
        (v, c, i + 1)
        for i, (v, c) in enumerate(
            sorted(bag.items(), key=lambda it: (-it[1], it[0]))[:k]
        )
    ]
    assert got == want, (bag, k, parts)


# ---------------------------------------------------------------------------
# Partition-count invariance sweep (VERDICT r5 'next' #7): the engine's
# core claim is that results are pure functions of (data, seed), not of
# cluster layout. Running representative contract queries under 1, 8,
# and 64 shuffle partitions and hashing the canonicalized results is the
# strongest cheap proxy for cluster-layout independence the sandbox
# offers — it catches per-partition accumulation-order bugs (float
# sums), partition-local top-k mistakes, and salt/shard leakage.
# ---------------------------------------------------------------------------

_SWEEP_QUERIES = [
    # relational: agg, join chain, window top-k, sessionization
    "q1_pricing_summary",
    "q5_region_revenue",
    "q_window_topk_orders",
    "q_events_sessions",
    # generators / mutators
    "gen_freq_single",
    "mut_chain",
    "mut_replacement_inline",
    # dedup family (LSH banding + iterative connected components)
    "dedup_minhash_pairs",
    "dedup_transitive",
    # text / sketch / sampling / similarity
    "text_tfidf_top3",
    "sketch_quantiles",
    "sketch_heavy_hitters",
    "sample_shuffle",
    "topk_cosine_ivf",
    # round 6: the two-phase SNM rank must be layout-independent (its
    # first implementation wasn't — repartitionByRange resampled
    # boundaries per job; caught by the sf0.1 oracle)
    "q_linkage_snm",
    "q_linkage_blocked",
    "q_linkage_jw",
    "q_linkage_fs",
    # round 7: soundex-blocked linkage (new oracle'd block key) and the
    # certified top-k, whose exact/MG path choice must not depend on
    # layout (different partition counts can flip a partition between
    # exact and truncated — the RESULT may not change)
    "q_linkage_soundex",
    "sketch_topk_counts",
]


def _canon_hash(pdf):
    import pandas as _pd

    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
    return _pd.util.hash_pandas_object(pdf, index=False).sum()


import pytest as _pytest


@_pytest.mark.parametrize("name", _SWEEP_QUERIES)
def test_partition_count_invariance(spark, name):
    import sys as _sys

    _sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    q = entry.queries()[name]
    sf = "/root/testdata/sf0.001"
    base = spark.conf.get("spark.sql.shuffle.partitions")
    hashes = {}
    try:
        for parts in (1, 8, 64):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            hashes[parts] = _canon_hash(q(spark, sf).toPandas())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", base)
    assert hashes[1] == hashes[8] == hashes[64], hashes


# ---------------------------------------------------------------------------
# Exact substring-span dedup vs a brute-force content model (round 11)
# ---------------------------------------------------------------------------
# The Spark pipeline detects duplicated windows by a two-prime rolling
# HASH, merges flagged positions in a chunked two-level aggregation,
# and stitches excised text with a Column fold. The model below shares
# NONE of that: it enumerates window SUBSTRINGS directly (content
# equality — hash collisions are absent by construction at 62 bits on
# these corpora), merges intervals in plain Python, and slices strings.
# Tiny alphabets make duplicated windows, self-overlapping periodic
# runs, and doc-spanning repeats the COMMON case, not the planted one.


def _model_window_keys(t: str, window: int):
    """(pos, content-key) pairs mirroring window_hashes' domain: one
    whole-string key at pos 0 for docs shorter than window. A short
    doc's key can never equal a full window's key (different lengths),
    matching the hash function's string domain."""
    if not t:
        return []
    if len(t) < window:
        return [(0, t)]
    return [(p, t[p : p + window]) for p in range(len(t) - window + 1)]


def _model_spans(docs, window, cross_doc_only=True, keep="none"):
    occ = {}
    for did, t in docs.items():
        for p, key in _model_window_keys(t or "", window):
            occ.setdefault(key, []).append((did, p))
    flagged = {}
    for key, hits in occ.items():
        ids = {d for d, _ in hits}
        dup = (len(ids) > 1) if cross_doc_only else (len(hits) > 1)
        if not dup:
            continue
        first = min(hits)
        for hit in hits:
            if keep == "first" and hit == first:
                continue
            flagged.setdefault(hit[0], []).append(hit[1])
    out = []
    for did, ps in flagged.items():
        ps.sort()
        start, end = ps[0], ps[0] + window
        for p in ps[1:]:
            if p <= end:
                end = p + window
            else:
                out.append((did, start, min(end, len(docs[did] or ""))))
                start, end = p, p + window
        out.append((did, start, min(end, len(docs[did] or ""))))
    return sorted(out)


def _model_excise(docs, window):
    spans = _model_spans(docs, window, cross_doc_only=True, keep="first")
    by_doc = {}
    for did, s, e in spans:
        by_doc.setdefault(did, []).append((s, e))
    out = {}
    for did, t in docs.items():
        cut = by_doc.get(did)
        if not cut:
            out[did] = t
            continue
        acc, done = [], 0
        for s, e in sorted(cut):
            acc.append((t or "")[done:s])
            done = e
        acc.append((t or "")[done:])
        out[did] = "".join(acc)
    return out


SUBSTR_TEXT = st.text(alphabet=st.sampled_from(list("abäc ")), max_size=30)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    texts=st.lists(SUBSTR_TEXT, min_size=2, max_size=6),
    window=st.sampled_from([3, 4, 7]),
    data=st.data(),
)
def test_substring_dedup_matches_bruteforce_model(spark, texts, window, data):
    import pandas as pd

    from gecko_spark.operators.dedup import substring_dedupe, substring_dup_spans

    cross = data.draw(st.booleans())
    docs = dict(enumerate(texts))
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in substring_dup_spans(
            df, window=window, cross_doc_only=cross
        ).collect()
    )
    want = _model_spans(docs, window, cross_doc_only=cross)
    assert got == want, f"spans window={window} cross={cross} docs={docs!r}"

    clean = {
        r["doc_id"]: r["text_clean"]
        for r in substring_dedupe(df, window=window).collect()
    }
    assert clean == _model_excise(docs, window), (
        f"excision window={window} docs={docs!r}"
    )


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    sizes=st.lists(st.integers(0, 50), min_size=1, max_size=60),
    budget=st.sampled_from([7, 20, 64]),
    buckets=st.sampled_from([1, 4, 16]),
    seed=st.integers(0, 5000),
    parts=st.integers(1, 5),
)
def test_global_token_shards_prefix_sum_model(
    spark, sizes, budget, buckets, seed, parts
):
    """global_token_shards == the sequential model on ANY input: sorting
    by gstart reconstructs one gap-free concatenated stream whose shard
    ids are exact integer division — the two-phase distributed sum must
    be indistinguishable from a single sequential pass."""
    from gecko_spark.core import LcgRandom
    from gecko_spark.operators.packing import global_token_shards

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(sizes)], "doc_id long, n_tokens int"
    ).repartition(parts)
    out = (
        global_token_shards(
            df, "doc_id", "n_tokens", budget,
            rand=LcgRandom("doc_id", seed), buckets=buckets,
        )
        .toPandas()
        .sort_values("gstart", kind="stable")
    )
    assert len(out) == len(sizes)
    n = out["n_tokens"].to_numpy()
    starts = n.cumsum() - n
    assert (out["gstart"].to_numpy() == starts).all()
    assert (out["gshard"].to_numpy() == starts // budget).all()


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(1, 30),
        ),
        min_size=3,
        max_size=50,
    ),
    wa=st.integers(1, 4),
    wb=st.integers(1, 4),
    seed=st.integers(0, 5000),
)
def test_mix_corpus_tokens_caps_model(spark, docs, wa, wb, seed):
    """mix_corpus_tokens invariants on any corpus: per-stratum kept
    tokens never exceed the integer cap, land within one document of
    it, and membership is the greedy prefix of the seeded order."""
    from gecko_spark.core import LcgRandom
    from gecko_spark.operators.sampling import mix_corpus_tokens

    rows = [(i, g, t) for i, (g, t) in enumerate(docs)]
    sums = {}
    for _, g, t in rows:
        sums[g] = sums.get(g, 0) + t
    weights = {"a": wa, "b": wb}
    if not all(sums.get(g, 0) > 0 for g in weights):
        return  # unsatisfiable mixtures raise by design; not this test
    df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens int")
    out = mix_corpus_tokens(
        df, "source", "n_tokens", weights,
        rand=LcgRandom("doc_id", seed), tiebreak="doc_id",
    ).toPandas()
    total_w = wa + wb
    t_total = min(sums[g] * total_w // w for g, w in weights.items())
    caps = {g: t_total * w // total_w for g, w in weights.items()}
    for g, cap in caps.items():
        kept = out[out["source"] == g]["n_tokens"].sum()
        biggest = max((t for _, gg, t in rows if gg == g), default=0)
        assert kept <= cap, (g, kept, cap)
        # greedy prefix: adding the next doc would cross the cap, so
        # the kept total lands within one (stratum-max) document of it
        assert kept > cap - biggest or cap == 0 or kept == sums[g], (
            g, kept, cap, biggest,
        )


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=0, max_size=12,
        ),
        min_size=1, max_size=25,
    ),
    qterms=st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zzz"]),
        min_size=1, max_size=4,
    ),
    parts=st.integers(1, 5),
)
def test_bm25_matches_python_model_on_random_corpora(spark, docs, qterms, parts):
    """BM25 scores on ARBITRARY small corpora equal an independent
    pure-Python model of the same formula (Lucene IDF, k1=1.2, b=0.75,
    micro-quantized int sums) — the strongest available statement for
    the integer-exact scoring claim, and partitioning must not matter."""
    import math as _math

    from gecko_spark.operators.retrieval import bm25_score_pairs

    texts = [" ".join(toks) for toks in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    ).repartition(parts)
    q = spark.createDataFrame(
        [(0, " ".join(qterms))], "query_id long, query_text string"
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["n_hit_terms"], r["score_micro"])
        for r in bm25_score_pairs(df, q).collect()
    }
    # pure-Python model
    k1, b = 1.2, 0.75
    n = len(docs)
    avgdl = sum(len(d) for d in docs) / n
    want = {}
    for did, toks in enumerate(docs):
        s, hits = 0, 0
        for term in set(qterms):
            tf = toks.count(term)
            if tf == 0:
                continue
            dfreq = sum(1 for d in docs if term in d)
            idf = _math.log(1.0 + (float(n) - dfreq + 0.5) / (dfreq + 0.5))
            norm = tf * (k1 + 1.0) / (
                tf + k1 * ((1.0 - b) + b * len(toks) / avgdl)
            )
            c = idf * norm * 1e6
            s += int(_math.copysign(_math.floor(abs(c) + 0.5), c))
            hits += 1
        if hits:
            want[(0, did)] = (hits, s)
    assert got == want, (texts, qterms)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    weights=st.lists(
        st.floats(-5.0, 5.0, allow_nan=False), min_size=4, max_size=60
    ),
    frac_pct=st.integers(5, 95),
    seed=st.integers(0, 5000),
    parts=st.integers(1, 5),
)
def test_gumbel_select_frac_exact_order_statistic_model(
    spark, weights, frac_pct, seed, parts
):
    """Exact-mode gumbel_select_frac on ANY weights selects exactly the
    rows whose key clears the true ceil(frac*N)-th-largest key — the
    sequential order-statistic model — independent of partitioning."""
    import math as _math

    from gecko_spark.core import LcgRandom
    from gecko_spark.operators.selection import _gumbel_key, gumbel_select_frac

    frac = frac_pct / 100.0
    df = spark.createDataFrame(
        [(i, float(w)) for i, w in enumerate(weights)],
        "doc_id long, log_weight double",
    ).repartition(parts)
    rand = LcgRandom("doc_id", seed)
    got = sorted(
        r["doc_id"]
        for r in gumbel_select_frac(
            df, frac, rand, threshold_mode="exact", accuracy=100
        ).collect()
    )
    keyed = {
        r["doc_id"]: r["k"]
        for r in df.withColumn(
            "k", _gumbel_key(F.col("log_weight"), rand)
        ).collect()
    }
    n_keep = _math.ceil(frac * len(weights))
    thr = sorted(keyed.values(), reverse=True)[n_keep - 1]
    want = sorted(d for d, k in keyed.items() if k >= thr)
    assert got == want, (weights, frac, seed)


# ---------------------------------------------------------------------------
# Distributed prefix sum vs the sequential model (round 13, VERDICT r12 #8)
# ---------------------------------------------------------------------------
# global_token_shards claims its two-phase bucketed prefix sum equals
# the one-pass sequential cumsum over the seeded global order, for any
# physical layout. The model replays the documented draw (salt 19,
# stream 0), the (u, id) order, the NULL->0 / negative->0 clamps, and
# gshard = gstart div budget. Random repartitioning + random bucket
# counts attack the phase boundary (bucket offsets) directly.


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    toks=st.lists(
        st.one_of(st.none(), st.integers(-5, 30)), min_size=1, max_size=40
    ),
    budget=st.integers(1, 50),
    buckets=st.sampled_from([1, 2, 3, 7, 64]),
    parts=st.integers(1, 6),
    seed=st.integers(0, 10_000),
)
def test_global_token_shards_match_sequential_model(
    spark, toks, budget, buckets, parts, seed
):
    from gecko_spark.operators.packing import global_token_shards

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "doc_id long, n_tokens long"
    ).repartition(parts)
    out = global_token_shards(
        df, "doc_id", "n_tokens", budget,
        LcgRandom("doc_id", seed), buckets=buckets,
    )
    got = {
        r["doc_id"]: (r["gstart"], r["gshard"]) for r in out.collect()
    }
    order = sorted(range(len(toks)), key=lambda i: (_u(i, seed, 19, 0), i))
    running = 0
    for i in order:
        n = max(toks[i] or 0, 0)
        assert got[i] == (running, running // budget), (
            f"doc={i} seed={seed} budget={budget} buckets={buckets}"
        )
        running += n


# ---------------------------------------------------------------------------
# Connected components vs union-find (round 13, VERDICT r12 #8)
# ---------------------------------------------------------------------------
# Min-label propagation + pointer jumping must produce EXACTLY the
# min-node-id labeling of each component, for any graph shape and any
# physical layout. Small dense node space makes multi-edge/self-loop/
# long-chain shapes common; union-find is the independent model.


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1, max_size=40,
    ),
    parts=st.integers(1, 6),
)
def test_connected_components_match_union_find(spark, edges, parts):
    from gecko_spark.operators.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a long, id_b long").repartition(parts)
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, on_nonconvergence="raise").collect()
    }
    # union-find model
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {n: comp_min[find(n)] for n in parent}
    assert got == want, f"edges={edges}"


# -- gzip-member resync blast radius (VERDICT r13 #6) ------------------------
#
# Property: for ANY (member sizes, corrupt member, excision point), the
# non-strict .warc.gz reader recovers at least
#     total - |members whose compressed bytes start inside the 1 MiB
#              window after the corruption byte|
# records, never fewer than strict mode yields before dying, and the
# clean PREFIX (members before the corrupt one) survives byte-exact.
# Excision (deleting compressed bytes) is used instead of bit-flips
# because a flip inside a STORED deflate block decodes "cleanly" until
# the member CRC (round-13 gotcha) — excision desynchronises the
# deflate stream deterministically.


def _warc_member(i: int, size: int) -> bytes:
    import gzip as _gz

    payload = bytes(((i * 131 + j * 17) % 251) for j in range(size))
    hdr = (
        f"WARC/1.1\r\nWARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:prop:{i}>\r\n"
        f"WARC-Target-URI: http://example.com/p{i}\r\n"
        f"Content-Length: {size}\r\n\r\n"
    ).encode()
    return _gz.compress(hdr + payload + b"\r\n\r\n")


@settings(max_examples=220, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    sizes=st.lists(st.integers(10, 4000), min_size=3, max_size=10),
    idx_seed=st.integers(0, 10 ** 6),
    offset_frac=st.floats(0.05, 0.95),
    excise_len=st.integers(1, 64),
)
# the corrupt member is the last one: its truncation surfaces inside the
# resync scan, which must quarantine it instead of raising
@example(sizes=[10] * 9 + [21], idx_seed=209, offset_frac=0.65625, excise_len=51)
def test_warc_gzip_resync_blast_radius_property(
    sizes, idx_seed, offset_frac, excise_len
):
    import io as _io

    from gecko_spark.sources.warc import iter_warc_records

    n = len(sizes)
    ci = idx_seed % n
    members = [_warc_member(i, s) for i, s in enumerate(sizes)]
    m = members[ci]
    pos = 4 + int(offset_frac * max(1, len(m) - 8))
    members[ci] = m[:pos] + m[pos + excise_len:]

    starts, off = [], 0
    for mm in members:
        starts.append(off)
        off += len(mm)
    corrupt_byte = starts[ci] + pos
    at_risk = sum(
        1 for j in range(ci, n) if starts[j] < corrupt_byte + (1 << 20)
    )
    blob = b"".join(members)

    good, bad = [], []
    for rec in iter_warc_records(_io.BytesIO(blob), gzipped=True):
        (bad if "__malformed__" in rec else good).append(rec)

    # strict mode: records yielded before gzip.GzipFile dies
    strict_count = 0
    try:
        for rec in iter_warc_records(
            _io.BytesIO(blob), gzipped=True, strict=True
        ):
            if "__malformed__" not in rec:
                strict_count += 1
    except Exception:
        pass

    full = [bytes(r["payload"]) for r in good
            if not r.get("truncated") and "warc-target-uri" in r]
    expect = [
        bytes(((i * 131 + j * 17) % 251) for j in range(sizes[i]))
        for i in range(n)
    ]
    # 1) blast radius bound: everything outside the 1 MiB window survives
    assert len(full) >= n - at_risk
    # 2) never worse than strict mode's clean prefix
    assert len(full) >= strict_count
    # 3) the clean prefix survives byte-exact, in order
    assert full[:ci] == expect[:ci]
    # 4) corruption is reported, not swallowed
    assert len(bad) >= 1


# ---------------------------------------------------------------------------
# Round 14 opt: the vectorized portable-hash fold (UCS4-view matrix,
# right-pad + BASE^-pad correction) must stay bit-identical to the
# definitional per-string Horner — every sketch/decontam/DSIR/classifier
# contract hash rides on it.
# ---------------------------------------------------------------------------

HASH_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0, max_codepoint=0x2FFF),
        st.characters(min_codepoint=0x1F300, max_codepoint=0x1F6FF),  # astral
    ),
    max_size=2100,  # crosses the 2048-column chunk boundary
)


@settings(max_examples=200, deadline=None)
@given(texts=st.lists(HASH_TEXT, max_size=30))
def test_poly_hash_matches_horner_model(texts):
    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        BASE,
        poly_hash_strings,
        poly_hash_strings_multi,
    )

    def horner(s: str, p: int) -> int:
        h = 0
        for ch in s:
            h = (h * BASE + ord(ch)) % p
        return h

    for p in (P1, P2):
        got = poly_hash_strings(texts, p)
        assert list(got) == [horner(s, p) for s in texts]
    m1, m2 = poly_hash_strings_multi(texts, (P1, P2))
    assert list(m1) == [horner(s, P1) for s in texts]
    assert list(m2) == [horner(s, P2) for s in texts]


@settings(max_examples=200, deadline=None)
@given(
    texts=st.lists(st.one_of(st.none(), HASH_TEXT), max_size=30),
    n=st.sampled_from([1, 2, 5, 8, 40, 64]),
)
def test_batch_window_hashes_matches_per_row(texts, n):
    """The round-15 concatenated-batch window-hash kernel (prefix-sum
    identity over the joined code points) must stay bit-identical to
    the definitional per-row ``window_hashes`` — the MinHash signature,
    substring-dedup and winnowing-fingerprint contract entries (and
    their DuckDB oracles) all key on these exact values. Covers NULs,
    astral code points, empty/None rows, rows shorter than the window,
    and the chunk of row-boundary windows the batch kernel must NOT
    emit."""
    import numpy as np

    from gecko_spark.functions.portable_hash import (
        P1,
        P2,
        batch_window_hashes,
        window_hashes,
    )

    hs, counts = batch_window_hashes(texts, n, (P1, P2))
    for got, p in zip(hs, (P1, P2)):
        want = [
            window_hashes(s, n, p) if s else np.empty(0, dtype=np.int64)
            for s in texts
        ]
        assert list(counts) == [len(w) for w in want]
        flat = (
            np.concatenate(want) if want else np.empty(0, dtype=np.int64)
        )
        assert np.array_equal(got, flat)
