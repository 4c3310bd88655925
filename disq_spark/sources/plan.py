"""Driver-side partition planning shared by the binary/text sources.

The reference plans splits with Spark jobs over ``PathSplit``/``BgzfBlock``
RDDs (PathSplitSource.java:68-113, BgzfBlockSource.java:59-74). We plan
driver-side (pure metadata: file lengths + optional indexes) and run the
plan with ``map_plan``: one task per plan row over a JVM-side range, the
rows riding in the task's function — one Spark job total, and the
planner itself costs milliseconds even for thousands of files.

At 100 TB the plan is ~#files x (size/split) rows of (path, start, end)
— a few million rows at most, trivially broadcastable; decode parallelism
then scales with the cluster, not the driver.
"""

from __future__ import annotations

from disq_spark import fs as _dfs

import glob
import os
from dataclasses import dataclass
from typing import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SPLIT_SIZE = 128 * 1024 * 1024  # PathSplitSource.java:47 default


@dataclass(frozen=True)
class PathRange:
    path: str
    start: int
    end: int


def resolve_paths(path: str, extensions: tuple[str, ...]) -> list[str]:
    """A path may be one file, a glob, or a (non-recursive) directory of
    same-format files (README.md:85-95). Hidden/_ files are skipped
    (HiddenFileFilter.java:26-37 semantics). Sorted lexicographically
    (HadoopFileSystemWrapper.java:122-139)."""
    if _dfs.isdir(path):
        names = [
            p
            for p in _dfs.listdir(path)
            if not os.path.basename(p).startswith((".", "_")) and p.endswith(extensions)
        ]
        if not names:
            raise FileNotFoundError(f"no {extensions} files in directory {path}")
        return sorted(names)
    if any(ch in path for ch in "*?["):
        from disq_spark.fs import split_scheme

        if split_scheme(path)[0] in ("", "file"):
            names = [
                p for p in glob.glob(path) if not os.path.basename(p).startswith((".", "_"))
            ]
            return sorted(names)
        # non-local scheme: list the parent through the fs registry and
        # fnmatch the basename (one-level globs — the common segment
        # pattern; deep ** globs need backend-native listing)
        import fnmatch

        parent, pattern = path.rsplit("/", 1)
        names = [
            p
            for p in _dfs.listdir(parent)
            if fnmatch.fnmatch(os.path.basename(p), pattern)
            and not os.path.basename(p).startswith((".", "_"))
        ]
        return sorted(names)
    return [path]


def plan_ranges(paths: list[str], split_size: int = DEFAULT_SPLIT_SIZE) -> list[PathRange]:
    out = []
    for p in paths:
        size = _dfs.getsize(p)
        if size == 0:
            continue
        start = 0
        while start < size:
            out.append(PathRange(p, start, min(start + split_size, size)))
            start += split_size
    return out


_ID_SCHEMA_JSON = T.StructType([T.StructField("id", T.LongType(), False)]).json()


def map_plan(
    spark: SparkSession,
    rows: Sequence,
    fn: Callable[[object], pd.DataFrame | None],
    schema,
) -> DataFrame:
    """Run ``fn(rows[i])`` as task i of a ``mapInPandas`` and return the
    union of the frames it returns (``None`` adds none), typed ``schema``.

    The leaf is a JVM ``LogicalRDD`` over ``range(0, n, 1, n)``: partition
    i holds exactly id i, so partition order == plan order == file order
    (what single-file sinks and ``collect()`` rely on), and no Python
    worker produces it — a ``parallelize``d plan frame costs each task a
    second Python worker just to hand its row to the JVM. ``rows`` travel
    in the function's closure (PySpark broadcasts a pickled command over
    1 MB). A ``LogicalRDD`` keeps the size estimate at
    ``spark.sql.defaultSizeInBytes``, where a bare ``spark.range`` leaf
    estimates a few bytes and would let the planner broadcast the read
    side of a join; and each call gets a fresh RDD, so the
    ``semanticHash`` of reads of different files never aliases.
    """
    n = len(rows)
    if n == 0:
        return spark.createDataFrame([], schema)
    js = spark._jsparkSession
    leaf = DataFrame(
        js.createDataFrame(js.range(0, n, 1, n).toDF().rdd(), js.parseDataType(_ID_SCHEMA_JSON)),
        spark,
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for i in pdf["id"]:
                out = fn(rows[int(i)])
                if out is not None:
                    yield out

    return leaf.mapInPandas(run, schema)
