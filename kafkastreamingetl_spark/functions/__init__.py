"""Scalar / aggregate expression helpers shared across operators.

All helpers are built-in-expression compositions (JVM-side, whole-stage
codegen eligible) — no Python UDFs in the hot path. The one reference Python
UDF (normalize_device, reference spark/app.py:66-70) is re-expressed here as
``normalize_string`` using coalesce/lower/trim, removing the JVM<->Python
per-row boundary identified in SURVEY.md §3.1.5.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class SessionMemo:
    """Bounded LRU memo of session artifacts keyed by ``(applicationId, *key)``.

    The package's one memo policy. An entry belongs to one Spark
    application, so a new session never sees a stale handle. At most
    ``cap`` entries are kept and the least recently used goes first; the
    plain form only drops its reference (a checkpointed frame is freed by
    GC). The ``persisted`` form holds DataFrames: every ``get`` persists
    the frame (MEMORY_AND_DISK) unless it is already cached (re-persisting
    a cached plan logs a CacheManager warning), so after an external
    ``clearCache`` the next use re-persists, and an evicted frame is
    unpersisted. Values are never ``None``. The lock covers only the
    bookkeeping, never ``build``: two threads missing one key both build
    and the first insert wins.
    """

    def __init__(self, cap: int, *, persisted: bool = False):
        self.cap = cap
        self.persisted = persisted
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.Lock()

    def __len__(self) -> int:
        return len(self._entries)

    def get(self, spark: SparkSession, key: tuple, build):
        full = (spark.sparkContext.applicationId, *key)
        with self._lock:
            val = self._entries.get(full)
            if val is not None:
                self._entries.move_to_end(full)
        if val is None:
            built = build()
            evicted = []
            with self._lock:
                val = self._entries.setdefault(full, built)
                while len(self._entries) > self.cap:
                    evicted.append(self._entries.popitem(last=False)[1])
            self._release(evicted)
        if self.persisted:
            sl = val.storageLevel
            if not (sl.useMemory or sl.useDisk):
                val.persist(StorageLevel.MEMORY_AND_DISK)
        return val

    def drop(self, spark: SparkSession, key: tuple) -> None:
        with self._lock:
            val = self._entries.pop((spark.sparkContext.applicationId, *key), None)
        self._release([val] if val is not None else [])

    def clear(self) -> None:
        with self._lock:
            evicted = list(self._entries.values())
            self._entries.clear()
        self._release(evicted)

    def _release(self, values: list) -> None:
        if self.persisted:
            for df in values:
                df.unpersist()


_PAR_PROBE_MEMO = SessionMemo(256)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition IF the input is under-partitioned (batch only).

    Small single-file tables scan as ONE partition, so expression-heavy
    operators (md5 shingling, SimHash folds, Pandas UDF stages) run on one
    core while 31 idle — measured 5-10× wall-clock loss at sf0.1. The guard
    pays one narrow shuffle of the raw rows only when the scan's natural
    split count is below the session's parallelism; at real scale (100 TB =
    thousands of row groups) the condition is false and this is a no-op, so
    it never introduces a shuffle where data is already wide.

    The check is the accurate ``rdd.getNumPartitions()`` probe (physical
    planning, no job). An earlier file-count shortcut ("≥ n input files ⇒
    ≥ n scan partitions") was UNSOUND: Spark's file bin-packing derives
    its split size from ``spark.sql.files.minPartitionNum`` and can pack
    many small files into fewer than n partitions — skipping the
    repartition in exactly the under-partitioned case this guard exists
    for. The probe forces physical planning of ``df`` (~0.1-0.2 s of
    driver wall), so its RESULT is memoized per (session, analyzed-plan
    semanticHash, n): the same logical plan over the same session always
    splits the same way, and repeated query constructions (every bench
    sample) hit the memo. A 32-bit semanticHash collision could only
    mis-skip/mis-add the repartition — a performance heuristic, never a
    correctness input.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    # The probe result also depends on the session's file-split confs
    # (ADVICE r15): fold them into the key so a mid-session conf change
    # re-probes instead of returning a stale partition count.
    conf = df.sparkSession.conf
    split_confs = tuple(
        conf.get(c, None)
        for c in (
            "spark.sql.files.maxPartitionBytes",
            "spark.sql.files.minPartitionNum",
            "spark.sql.files.openCostInBytes",
            "spark.sql.shuffle.partitions",
        )
    )
    got = _PAR_PROBE_MEMO.get(
        df.sparkSession,
        (df.semanticHash(), n, split_confs),
        lambda: df.rdd.getNumPartitions(),
    )
    if got < n:
        return df.repartition(n)
    return df

# ---------------------------------------------------------------------------
# cleaning / normalization (reference spark/app.py:66-76)
# ---------------------------------------------------------------------------


def normalize_string(col: str | Column) -> Column:
    """null -> default, else trim+lowercase.

    Built-in replacement for the reference's Python UDF ``normalize_device``
    (reference spark/app.py:66-70): Catalyst-optimizable, codegen-friendly.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.lower(F.trim(c)), F.lit("unknown"))


# ---------------------------------------------------------------------------
# deterministic aggregation: decimal-summed doubles
# ---------------------------------------------------------------------------
# Floating-point SUM is not associative, so a distributed partial+final sum
# can differ between engines / partitionings in the last bits. Casting each
# value to DECIMAL(18,4) first makes the sum exact and order-independent,
# so Spark at any parallelism and the DuckDB oracle agree bit-for-bit. The
# final cast back to double keeps the public schema stable.

DEC = "decimal(18,4)"


def dsum(col: str | Column, alias: str | None = None) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(DEC)).cast("double")
    return out.alias(alias) if alias else out


def davg(col: str | Column, alias: str | None = None) -> Column:
    """Order-independent mean: exact decimal sum divided by count."""
    c = F.col(col) if isinstance(col, str) else col
    out = (F.sum(c.cast(DEC)).cast("double") / F.count(c)).cast("double")
    return out.alias(alias) if alias else out


# Matching ANSI-SQL fragments for DuckDB oracles. DuckDB's SUM over DECIMAL
# widens to DECIMAL(38,x) / HUGEINT; the explicit double cast keeps the
# result schema identical to Spark's.
def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(18,4))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(18,4))) AS DOUBLE)"
        f" / COUNT({expr}) AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# deterministic 60-bit string hashing (shared by dedup / fingerprint / LSH)
# ---------------------------------------------------------------------------
# md5 -> first 15 hex chars -> bigint. 60 bits keeps the value positive in a
# signed 64-bit long on every engine, and the md5 hex text is identical in
# Spark, DuckDB, and Python's hashlib, so oracle twins can reproduce the hash
# bit-for-bit (verified cross-engine in tests/test_text_dedup.py).

HASH60_HEX_CHARS = 15


def bind(value: Column, f) -> Column:
    """Let-binding for expression trees: evaluate ``value`` ONCE and pass
    the result to ``f`` as a higher-order-function lambda variable.

    Spark has no ``let``, and an expression referenced inside a HOF lambda
    is re-evaluated on every element invocation (no cross-lambda
    subexpression elimination) — a per-element reference to an O(n)
    expression turns a linear projection quadratic. ``transform(array(v),
    f)[1]`` routes the evaluated value in as a bound variable: one
    evaluation, O(1) references. Works for any value type (the singleton
    array wrapper is type-agnostic)."""
    return F.element_at(F.transform(F.array(value), f), 1)


def array_lit(values, sql_type: str) -> Column:
    """A (possibly nested) numeric array literal in ONE py4j round trip.

    ``F.lit(list)`` decomposes into one JVM call per element (PySpark
    builds nested literals as ``array(lit(x), ...)`` recursively) — a
    16×64 matrix literal costs 1,000+ py4j round trips ≈ 2 s of driver
    wall per call site (measured on rp_project). Rendering the literal as
    a single SQL ``array(...)`` expression string moves the whole
    construction into one parser call. ``sql_type`` is ``"bigint"`` or
    ``"double"``; doubles render via ``repr`` (shortest round-trip form,
    parsed back to the identical IEEE value) wrapped in a foldable CAST so
    scientific notation and specials survive the SQL parser.
    """

    def fmt(v) -> str:
        if isinstance(v, (list, tuple)):
            if not v:
                # array() types as array<null>, silently breaking the
                # element-type contract (ADVICE r15) — refuse instead
                raise ValueError("array_lit: empty (sub)array has no type")
            return "array(" + ",".join(fmt(x) for x in v) + ")"
        if sql_type == "double":
            return f"CAST('{float(v)!r}' AS DOUBLE)"
        if sql_type == "bigint":
            return f"{int(v)}L"
        if sql_type == "int":
            return str(int(v))
        raise ValueError(f"unsupported array_lit element type {sql_type!r}")

    return F.expr(fmt(values))


def hash60(col: str | Column) -> Column:
    """Deterministic 60-bit non-negative hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, HASH60_HEX_CHARS), 16, 10).cast("bigint")


def sql_hash60(expr: str) -> str:
    """DuckDB twin of :func:`hash60`."""
    return f"('0x' || substr(md5({expr}), 1, {HASH60_HEX_CHARS}))::BIGINT"


def py_hash60(s: str) -> int:
    """Python twin of :func:`hash60` (for Pandas-UDF operators)."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:HASH60_HEX_CHARS], 16)


# ---------------------------------------------------------------------------
# vector math over array<float> embeddings (extension surface)
# ---------------------------------------------------------------------------


def dot(a: str | Column, b: str | Column) -> Column:
    """Sequential-fold dot product of two equal-length float arrays.

    ``F.zip_with`` + ``F.aggregate`` keeps the computation JVM-side; the fold
    runs in array order with double accumulation, so the result is
    deterministic and matches an oracle that folds in the same order.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    prods = F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: str | Column) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    sq = F.transform(ca, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
