"""Size-based kernel dispatch: SQL column expressions vs Arrow/numpy.

The r6 lesson, measured both ways: Arrow-batched numpy kernels win big
at scale (ann_cosine_topk sf10 15.5 -> 2.3 s, SCALE.md) but PAY a fixed
Python-worker spin-up + Arrow round-trip that dominates at small input
(ann_cosine_topk sf0.1 warm 0.62 -> 1.13 s after the blas default
landed). Both paths are bit-identical at the operators' output rounding
(integer signature-equality counts are exact in any engine; float64
GEMM agrees with the sequential fold at 4-decimal rounding), so the
choice is pure cost. ``method="auto"`` picks by the input's Catalyst
size estimate — no extra Spark job, the stats come from the optimized
plan (file-scan sizes for parquet inputs).

Thresholds are calibrated against the observed estimator, not ideal row
counts: Catalyst estimates the sf0.1 documents scan (5k rows) at
~0.6 MB and embeddings (2k x 64 floats) at ~0.8 MB, while the sf10
corpora land at tens of MB — any threshold in the 4-32 MB band
separates "Python worker spin-up dominates" from "per-row fold cost
dominates". ~8 MB corresponds to the ~50k-row crossover the r6 bench
analysis identified.
"""

from __future__ import annotations

SMALL_INPUT_BYTES = 8 * 1024 * 1024


def plan_size_bytes(df) -> int:
    """Catalyst's size estimate for the optimized plan — zero jobs.
    Unknown (Connect, or stats failure) estimates BIG: at scale the
    numpy kernel is the safe default; only provably-small inputs take
    the SQL path."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def resolve_method(method: str, df, small_bytes: int = SMALL_INPUT_BYTES) -> str:
    """'auto' -> 'sql' for small inputs, 'blas' otherwise; explicit
    'sql'/'blas' pass through; anything else raises."""
    if method == "auto":
        return "sql" if plan_size_bytes(df) < small_bytes else "blas"
    if method not in ("sql", "blas"):
        raise ValueError(f"method must be 'auto', 'blas' or 'sql': {method!r}")
    return method


# partition-count memo keyed on (Spark application id, semantic plan hash).
# `df.rdd.getNumPartitions()` forces a FULL physical planning of the
# subtree (plus a Python-conversion RDD) on every call — a per-build
# driver cost paid by every fanned operator, three times per query in
# the bench (r11 attribution: 40-42% of the sf0.1 nocache wall is
# driver gap). The base tables are plan-memoized (queries/tables.py),
# so rebuilding the same query yields an analyzed plan with a stable
# semantic hash: the count is planned once per session and reused.
# Staleness is impossible to observe in results — the count only gates
# a row-placement-neutral exchange — and a rewritten source at the same
# path gets a fresh relation from the load memo's file-identity key,
# which changes the semantic hash. The application id names the session
# because a later session can reuse the id() of a freed py4j proxy.
_NPART_MEMO: dict[tuple, int] = {}


def _source_partitions(df) -> int:
    try:
        key = (df.sparkSession.sparkContext.applicationId, df.semanticHash())
    except Exception:
        key = None
    if key is not None and key in _NPART_MEMO:
        return _NPART_MEMO[key]
    try:
        # the internal-row RDD: same partition count as df.rdd without
        # building the Python-conversion pipeline on top of it
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        n = df.rdd.getNumPartitions()
    if key is not None:
        if len(_NPART_MEMO) > 4096:
            _NPART_MEMO.clear()
        _NPART_MEMO[key] = n
    return n


def fan_out(df, *cols, size_of=None, min_bytes: int = 0):
    """Repartition ``df`` to the session's parallelism — but ONLY when
    the source is narrower than the core count (one small parquet file
    -> every downstream CPU-bound operator runs serially). At scale the
    branch never fires: real corpora already carry >> cores partitions,
    so no exchange is added to the 100 TB plan.

    With ``cols``, partitioning is hash-by-cols (no exchange-side local
    sort); pass a high-cardinality key. Without, round-robin — which
    pays the deterministic sort-before-repartition (SPARK-23207) on the
    map side, so prefer a key when one exists. Result-neutral either
    way: only row placement changes.

    ``min_bytes`` (with ``size_of`` supplying the frame whose Catalyst
    estimate to read — pass the pre-explode base when ``df`` contains a
    Generate, whose estimates are unreliable): below the floor the
    fan-out is SKIPPED — for per-byte-cheap work (k-means argmin over a
    few hundred rows) 32-way task launch costs more than it buys.
    Callers whose per-byte work is heavy (text shingling) keep the
    default 0."""
    sc = df.sparkSession.sparkContext
    if _source_partitions(df) >= sc.defaultParallelism:
        return df
    if min_bytes and plan_size_bytes(size_of if size_of is not None else df) < min_bytes:
        return df
    if cols:
        return df.repartition(sc.defaultParallelism, *cols)
    return df.repartition(sc.defaultParallelism)
