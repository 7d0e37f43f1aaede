"""Core plumbing: Spark session, randomness policy, row selection.

Randomness policy (SURVEY.md §7.4): the reference threads one sequential
NumPy RNG through every operator, which makes output depend on call
order — impossible and undesirable on a cluster.  Here every random
decision is a *pure function of row identity and an operator seed*, so
results are partitioning-independent and reproducible under any
parallelism:

* :class:`HashRandom` — production path; ``xxhash64(key cols, seed,
  salt)`` mapped to [0, 1).  Same seed ⇒ same output, row-for-row,
  regardless of cluster layout.
* :class:`LcgRandom` — a small LCG over an integer key column whose
  formula is emitted as portable SQL text, so an external oracle
  (DuckDB) can reproduce the exact same doubles.  Used by the
  correctness harness; also a valid production source when rows carry a
  unique integer key.

Both expose ``uniform(salt) -> Column`` in [0, 1); independent draws use
distinct salts.

Plan-building steps that generators and mutators share live here, once:

* :func:`json_literal` — a driver-side table (list or dict) enters a
  plan as ONE JSON-decoded literal that the optimizer folds to a
  constant, never as one ``F.lit`` per element;
* :func:`bucket_index` — the bucket of a weighted pick: the first of a
  list of running-sum bounds that a column lies below;
* :func:`weighted_list` — "list of X, or list of (weight, X)" as
  ``[(weight, X)]``, for ``from_group`` and ``with_group``.
"""

from __future__ import annotations

import json
import os
from contextlib import contextmanager
from typing import Iterable, Iterator, Sequence, Union

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F


class GeckoWarning(UserWarning):
    """Warning category for unreachable mutation probabilities.

    Mirrors the reference's warning contract (reference
    gecko/_typedefs.py:11-16, gecko/mutator.py:68-73): when the fraction
    of rows eligible for a mutation is below the requested ``p``, the
    engine warns instead of failing.
    """


ColumnOrName = Union[Column, str]


def _to_col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def driver_memory(physical_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for :func:`get_spark`:
    ``GECKO_SPARK_DRIVER_MEM`` when set, else half the machine's physical
    memory in whole GiB, at least 1g and at most 16g. In local mode the
    driver JVM runs every task, so this is the engine's whole heap; the
    other half stays with the Python workers and the OS. Where physical
    memory cannot be read, the cap."""
    if os.environ.get("GECKO_SPARK_DRIVER_MEM"):
        return os.environ["GECKO_SPARK_DRIVER_MEM"]
    if physical_bytes is None:
        try:
            physical_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        except (AttributeError, ValueError, OSError):
            return "16g"
    return f"{min(16, max(1, physical_bytes // 2**31))}g"


# the directory that holds this package; on the workers' path it lets
# them start the daemon module and unpickle the kernels from this copy
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def session_conf(
    shuffle_partitions: int, extra_conf: dict[str, str] | None = None
) -> dict[str, str]:
    """The settings :func:`get_spark` gives its session; an
    ``extra_conf`` entry replaces the one of the same name."""
    return {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # lets GeckoDataSource's opt-in __idx__ range pruning work
        # (sources/datasource.py); harmless when no python source reads
        "spark.sql.python.filterPushdown.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": driver_memory(),
        "spark.python.daemon.module": "gecko_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": _PACKAGE_ROOT,
        # one C1 and one C2 compiler thread (get_spark's "Driver JVM")
        "spark.driver.defaultJavaOptions": "-XX:CICompilerCount=2",
        **(extra_conf or {}),
    }


def get_spark(
    app_name: str = "gecko-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a local SparkSession tuned for this workload
    (:func:`session_conf`).

    On a real cluster users bring their own session; every operator in
    this package only needs a plain ``SparkSession`` and sets no global
    state. The driver heap comes from :func:`driver_memory`.

    Python workers: Spark forks each Python worker from one daemon
    process. Here the daemon is :mod:`gecko_spark.worker_daemon`, which
    imports numpy, pandas and pyarrow and freezes the garbage collector
    before it forks, so the workers share those libraries' pages
    copy-on-write instead of each importing a private copy (about 30 MB
    less per worker that runs an Arrow kernel). The package's directory
    goes on the workers' ``PYTHONPATH`` so that they can import it. On a
    cluster, set ``spark.python.daemon.module`` to
    ``gecko_spark.worker_daemon`` where ``gecko_spark`` is importable
    on the executors.

    The daemon also keeps each Python task from re-reading the zip
    archives it imports from. PySpark calls
    ``importlib.invalidate_caches()`` at the start of every task, and on
    Python 3.10-3.12 that makes every ``zipimporter`` re-read its
    archive's directory (CPython gh-103200): with pyspark imported from
    ``pyspark.zip``, 0.1-0.2 s of CPU per task. The daemon's
    ``zipimporter.invalidate_caches`` re-reads an archive only when its
    modification time or size changed, as Python 3.13 does
    (:func:`gecko_spark.worker_daemon.reuse_zip_directories`). It
    matters only on Python 3.10-3.12 with pyspark imported from a zip;
    on a cluster it comes with ``spark.python.daemon.module``.

    Driver JVM: ``spark.driver.defaultJavaOptions`` is
    ``-XX:CICompilerCount=2``, HotSpot's smallest tiered JIT (one C1 and
    one C2 compiler thread, so one C2 compilation at a time). HotSpot's
    default of three threads on 4 cores is sized for an idle server;
    here the threads compete with Spark's task threads, and concurrent
    C2 compilations of Spark's generated methods held 30-80 MB of
    compiler arenas, about 80 MB of the driver's peak memory. To
    override it, pass ``spark.driver.defaultJavaOptions`` in
    ``extra_conf`` (it replaces the flag), or put a later
    ``-XX:CICompilerCount=<n>`` in ``spark.driver.extraJavaOptions``
    (HotSpot keeps the last value). Like ``spark.driver.memory``, it
    takes effect only when the session starts the JVM.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in session_conf(shuffle_partitions, extra_conf).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def job_description(spark: SparkSession, description: str) -> Iterator[None]:
    """Run the enclosed Spark jobs under ``description`` (the
    ``spark.job.description`` local property, ``gecko:<entry>:<purpose>``
    for jobs the library starts itself); the caller's description comes
    back afterwards, also when a job fails."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", previous)


# ---------------------------------------------------------------------------
# Shared plan-building steps
# ---------------------------------------------------------------------------


def json_literal(value, spark_type: str) -> Column:
    """``value`` (a driver-side list or dict) as a ``spark_type`` column
    built with one JVM call, where a literal per element makes one call
    per element. The optimizer folds the decode to a constant."""
    return F.from_json(F.lit(json.dumps(value, ensure_ascii=False)), spark_type)


def bucket_index(x: Column, bounds: Sequence) -> Column:
    """Index of the first of the ascending ``bounds`` that ``x`` lies
    below, ``len(bounds)`` when none: the bucket of a weighted pick when
    ``bounds`` are the running sums of every weight but the last."""
    if not bounds:
        return F.lit(0)
    expr = F.when(x < F.lit(bounds[0]), F.lit(0))
    for i, bound in enumerate(bounds[1:], 1):
        expr = expr.when(x < F.lit(bound), F.lit(i))
    return expr.otherwise(F.lit(len(bounds)))


def weighted_list(items: Sequence, kind: type, noun: str) -> list[tuple[float, object]]:
    """``items`` — a list of ``kind``, or of ``(weight, kind)`` pairs —
    as ``[(weight, item)]``; an unweighted list gets equal weights."""
    if all(isinstance(item, kind) for item in items):
        w = 1.0 / len(items)
        return [(w, item) for item in items]
    for item in items:
        if not (
            isinstance(item, tuple)
            and len(item) == 2
            and isinstance(item[0], (int, float))
            and isinstance(item[1], kind)
        ):
            raise ValueError(f"invalid argument, must be a list of {noun}s or weighted {noun}s")
    return list(items)


# ---------------------------------------------------------------------------
# Random sources
# ---------------------------------------------------------------------------

# LCG constants (glibc-style multiplier; modulus 2^31 so m / 2^31 is an
# exact binary double — identical across engines).
LCG_M = 2**31
LCG_A = 1103515245
LCG_C = 12345


def lcg_state_sql(key_sql: str, seed: int, salt: int, stream: int = 0) -> str:
    """SQL text for the mixed LCG state in [0, 2^31) derived from an
    integer key expression, a seed, a stream, and a per-draw salt.

    The same text is valid Spark SQL and DuckDB SQL, which is what makes
    engine-vs-oracle value comparison exact: both engines evaluate the
    identical integer recurrence, and the final division by 2^31 is an
    exact power-of-two float operation.
    """
    c1 = (seed * 7919 + stream * 15485863 + salt * 104729 + LCG_C) % LCG_M
    step1 = f"((ABS(CAST({key_sql} AS BIGINT)) % {LCG_M}) * {LCG_A} + {c1}) % {LCG_M}"
    return f"((({step1}) * {LCG_A} + {LCG_C}) % {LCG_M})"


def lcg_uniform_sql(key_sql: str, seed: int, salt: int, stream: int = 0) -> str:
    """SQL text for a uniform double in [0, 1) — portable Spark/DuckDB."""
    return (
        f"(CAST({lcg_state_sql(key_sql, seed, salt, stream)} AS DOUBLE)"
        f" / {float(LCG_M)!r})"
    )


class RandomSource:
    """Provider of per-row uniform [0, 1) columns.

    ``uniform(salt)`` must return independent-looking draws for distinct
    salts and be deterministic given (row identity, seed, stream, salt).
    ``fork(i)`` derives a decorrelated child source (used by composite
    operators like grouped generators / mutator multiplexers).
    """

    stream: int = 0

    def uniform(self, salt: int) -> Column:
        raise NotImplementedError

    def fork(self, i: int) -> "RandomSource":
        raise NotImplementedError

    def uniform_int(self, salt: int, n: Column | int) -> Column:
        """Uniform integer in [0, n) as a LongType column."""
        n_col = F.lit(n) if isinstance(n, int) else n
        return F.floor(self.uniform(salt) * n_col.cast("double")).cast("long")

    def choice(self, salt: int, values: Sequence[str]) -> Column:
        """Uniformly choose one of ``values`` (a small driver-side list)."""
        arr = json_literal(list(values), "array<string>")
        return F.element_at(arr, (self.uniform_int(salt, len(values)) + 1).cast("int"))


class HashRandom(RandomSource):
    """Partitioning-independent randomness: xxhash64 over key columns.

    ``key_cols`` should identify a row (a primary key, or all payload
    columns).  xxhash64 runs JVM-side inside whole-stage codegen — no
    Python involved.
    """

    def __init__(self, seed: int, key_cols: Iterable[ColumnOrName], stream: int = 0):
        self.seed = int(seed)
        self.stream = int(stream)
        self.key_cols = [_to_col(c) for c in key_cols]
        if not self.key_cols:
            raise ValueError("HashRandom requires at least one key column")

    def uniform(self, salt: int) -> Column:
        # the seed enters as a one-element array: Spark writes a primitive
        # literal into the generated Java source, so every seed would
        # compile new classes, while an array literal is referenced. The
        # digest is the same: xxhash64 hashes an array element by element.
        h = F.xxhash64(
            *self.key_cols, F.array(F.lit(self.seed)), F.lit(self.stream), F.lit(int(salt))
        )
        # int64 → [0, 1): shift to unsigned range then scale.
        return h.cast("double") / F.lit(float(2**64)) + F.lit(0.5)

    def fork(self, i: int) -> "HashRandom":
        return HashRandom(self.seed, self.key_cols, self.stream * 1000003 + i + 1)


class LcgRandom(RandomSource):
    """Oracle-reproducible randomness: LCG over an integer key column.

    The underlying formula is plain integer SQL (see
    :func:`lcg_uniform_sql`) so a DuckDB oracle evaluating the same text
    over the same keys produces bit-identical doubles.
    """

    def __init__(self, key_sql: str, seed: int, stream: int = 0):
        self.key_sql = key_sql
        self.seed = int(seed)
        self.stream = int(stream)

    def uniform(self, salt: int) -> Column:
        return F.expr(
            lcg_uniform_sql(self.key_sql, self.seed, salt, stream=self.stream)
        )

    def fork(self, i: int) -> "LcgRandom":
        return LcgRandom(self.key_sql, self.seed, self.stream * 1000003 + i + 1)


# ---------------------------------------------------------------------------
# Row selection (the shared mutator contract)
# ---------------------------------------------------------------------------


def bernoulli_select(
    rand: RandomSource, salt: int, p: float, eligible: Column | None = None
) -> Column:
    """Boolean selection column: eligible rows pass with probability p.

    This is the engine's default ("lazy") selection mode: a conditional
    Bernoulli draw among eligible rows, matching the reference's
    behavior whenever its measured eligibility ratio is ≥ p (reference
    gecko/mutator.py:688-691 rescales by the eligible fraction; the
    strict mode that reproduces the rescaling + GeckoWarning needs a
    count and lives in plans/pipeline.py::mutate_data_frame(strict_p=True)).
    """
    check_probability(p)
    sel = rand.uniform(salt) < F.lit(float(p))
    if eligible is not None:
        # the draw first: codegen skips the eligibility test of the rows
        # it rejects (three-valued AND gives the same value either way)
        sel = sel & eligible
    return sel


def check_probability(p: float) -> None:
    if p < 0 or p > 1:
        raise ValueError("probability is out of range, must be between 0 and 1")


def persist_until_released(cached, owner):
    """Unified cache-ownership policy for operators whose RETURNED lazy
    plan references an internally persisted frame (the self-join /
    multi-reference sites in dedup.py, sketches.py): tie the cache's
    lifetime to the caller's result.

    ``cached`` must already be ``.persist(...)``-ed; when the caller's
    last reference to ``owner`` (the returned DataFrame) is
    garbage-collected, the cache is unpersisted (non-blocking, errors
    swallowed — the session may already be stopped). Sweep loops that
    drop each result before the next call therefore leave NO persisted
    blocks behind (the round-6 leak mode: every call on a distinct
    input added an unowned MEMORY_AND_DISK entry for the session's
    lifetime), while the cache stays live for as long as the result
    can still be evaluated. Spark matches cached plans by canonicalized
    logical plan, so two results over the SAME input share one entry;
    releasing one result then releases the shared entry early for the
    other — correctness is unaffected (the plan recomputes), only the
    reuse is lost, and only in that interleaved-handles edge.

    CALLER CONTRACT: the cache lives exactly as long as the returned
    ``owner`` OBJECT. Chaining (``pairs(df).filter(...)``) creates a
    NEW DataFrame and drops the owner immediately (CPython refcount),
    releasing the cache before any job runs — correct but the persist
    becomes dead weight. Hold the owner in a variable while evaluating
    derived frames, or tie a derived result's lifetime to it with
    :func:`adopt_cache_owner` (what the in-package consumers like
    ``minhash_dedupe`` do).

    Returns ``owner`` for chaining."""
    import weakref

    jdf = cached._jdf

    def _release(jdf=jdf):
        try:
            jdf.unpersist(False)
        except Exception:
            pass

    weakref.finalize(owner, _release)
    return owner


def adopt_cache_owner(derived, *owners):
    """Keep ``owners``' internal caches (tied to their object lifetime
    by :func:`persist_until_released`) alive for as long as ``derived``
    is — a strong reference chain, so a caller holding only the derived
    result still evaluates against the warm cache, and dropping the
    result releases everything transitively (ADVICE r7: the common
    ``pairs(df).filter(...)`` chain was silently releasing the
    signature cache before the first job).

    Returns ``derived`` for chaining."""
    existing = getattr(derived, "_gecko_cache_owners", ())
    derived._gecko_cache_owners = tuple(existing) + tuple(owners)
    return derived
