"""``sources.plan.map_plan``: the plan-row runner every planned reader and
index builder goes through. Its contract (task i runs row i, results come
back in plan order, empty and over-1-MB plans), and the properties of its
JVM-range leaf that the planner and the partition memo rely on, checked on
reads of generated BAM and VCF files."""

import os
import pickle
import random
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from disq_spark.headers import SamHeader
from disq_spark.operators.dispatch import plan_size_bytes
from disq_spark.schemas import READS_SCHEMA
from disq_spark.sinks.bam import write_bam
from disq_spark.sources.bam_source import read_bam
from disq_spark.sources.plan import map_plan
from disq_spark.sources.variants import read_vcf


@pytest.fixture
def task_of():
    # defined here, not at module level, so it pickles by value
    def run(row):
        from pyspark import TaskContext

        return pd.DataFrame({"row": [row], "pid": [TaskContext.get().partitionId()]})

    return run


@pytest.mark.parametrize("n", [1, 7, 64])
def test_task_i_runs_row_i_and_collect_keeps_plan_order(spark, task_of, n):
    df = map_plan(spark, list(range(n)), task_of, "row long, pid long")
    assert df.rdd.getNumPartitions() == n
    got = df.collect()
    assert [r.row for r in got] == list(range(n))
    assert all(r.pid == r.row for r in got)


def test_empty_plan_gives_an_empty_frame_with_the_schema(spark, task_of):
    df = map_plan(spark, [], task_of, "row long, pid long")
    assert df.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in df.schema] == [
        ("row", "bigint"), ("pid", "bigint")
    ]


def test_none_adds_no_rows(spark, task_of):
    df = map_plan(spark, list(range(6)), lambda r: task_of(r) if r % 2 else None, "row long, pid long")
    assert [r.row for r in df.collect()] == [1, 3, 5]


def test_plan_over_one_megabyte_reads_correctly(spark):
    """PySpark broadcasts a pickled command over 1 MB; the rows in the
    closure must still arrive whole."""
    rng = random.Random(3)
    rows = [("%x" % rng.getrandbits(1 << 17), i) for i in range(48)]
    assert len(pickle.dumps(rows)) > 1 << 20
    df = map_plan(
        spark, rows, lambda r: pd.DataFrame({"i": [r[1]], "n": [len(r[0])]}), "i long, n long"
    )
    assert [(r.i, r.n) for r in df.collect()] == [(i, len(s)) for s, i in rows]


@pytest.fixture(scope="module")
def generated_bam(spark, tmp_path_factory):
    rng = random.Random(5)
    rows = []
    for i, s in enumerate(sorted(rng.randrange(1, 900_000) for _ in range(1200))):
        seq = "".join(rng.choice("ACGT") for _ in range(80))
        qual = "".join(chr(33 + rng.randrange(2, 41)) for _ in range(80))
        rows.append((f"r{i:05d}", 0, "c1", s, s + 79, 60, "80M", None, None, 0, seq, qual, {}, None))
    text = "@HD\tVN:1.6\tSO:coordinate\n@SQ\tSN:c1\tLN:1000000\n"
    path = str(tmp_path_factory.mktemp("plan_leaf") / "reads.bam")
    write_bam(spark.createDataFrame(rows, READS_SCHEMA), SamHeader(text=text), path, write_bai=True)
    return path


def _reads(spark, path, split):
    if path.endswith(".bam"):
        return read_bam(spark, path, split_size=split)[0]
    return read_vcf(spark, path, split_size=split)[0]


def _broadcast_subtrees(df) -> list[str]:
    """The subtree under every BroadcastExchange of ``df``'s physical plan."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    depth = lambda ln: len(ln) - len(ln.lstrip(" :+-"))
    out = []
    for i, ln in enumerate(lines):
        if "BroadcastExchange" in ln:
            sub = []
            for nxt in lines[i + 1 :]:
                if depth(nxt) <= depth(ln):
                    break
                sub.append(nxt)
            out.append("\n".join(sub))
    return out


@pytest.mark.parametrize("kind", ["bam", "vcf"])
def test_read_leaf_keeps_size_estimate_no_python_rdd_and_distinct_hashes(
    spark, generated_bam, generated_vcf, tmp_path, kind
):
    path = generated_bam if kind == "bam" else generated_vcf[0]
    split = 16_000
    df = _reads(spark, path, split)
    assert df.rdd.getNumPartitions() > 3

    # the leaf's estimate is unknown-big, as a parallelized frame's was
    default_size = spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
    assert plan_size_bytes(df) == default_size

    # so a join with a small frame broadcasts the small side, never the read
    small = spark.range(10).select(F.col("id").alias("k"))
    key = "flags" if kind == "bam" else "start"
    subtrees = _broadcast_subtrees(df.join(small, df[key] == small["k"]))
    assert subtrees and not any("MapInPandas" in s for s in subtrees)

    # no Python worker builds the plan rows
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()

    # reads of different files with equal partition counts never share a
    # semanticHash (the partition memo's key)
    other = str(tmp_path / os.path.basename(path))
    for ext in ("", ".bai", ".sbi", ".tbi"):
        if os.path.exists(path + ext):
            shutil.copyfile(path + ext, other + ext)
    df2 = _reads(spark, other, split)
    assert df2.rdd.getNumPartitions() == df.rdd.getNumPartitions()
    assert df2.semanticHash() != df.semanticHash()
    assert df2.count() == df.count()
