""".bai-driven BAM planning on a self-contained file: split starts snapped to
the index's record starts, span-exact interval reads and their packing into
partitions. The input is built here — a coordinate-sorted frame with reads
crossing 16 kb windows (coarser bins), spliced reads spanning hundreds of
kb, placed-unmapped mates and an unplaced-unmapped tail — and written with
``write_bam(write_bai=True)`` and no ``.sbi``."""

import bisect
import os
import random
import shutil

import pytest

from disq_spark.formats import bai as baimod
from disq_spark.functions.intervals import Interval, filter_intervals
from disq_spark.headers import SamHeader
from disq_spark.schemas import READS_SCHEMA
from disq_spark.sinks.bam import write_bam
from disq_spark.sources import bam_source
from disq_spark.sources.bam_source import (
    _chunk_may_match,
    decode_chunk_cols,
    plan_bam_chunks,
    plan_bam_partitions,
    read_bam,
    read_bam_header,
)
from disq_spark.sources.datasource import register_datasources

CONTIGS = [("c1", 2_000_000), ("c2", 600_000), ("c3", 300_000)]
SPLIT_SIZES = [8_000, 40_000, 150_000, 1 << 22]
COLS = ["name", "flags", "contig", "start", "end"]

QUERIES = [
    ([Interval("c1", 10_000, 50_000), Interval("c1", 40_000, 90_000)], False),  # overlapping
    ([Interval("c1", 16_300, 16_400)], False),  # a window edge: coarse-bin reads
    ([Interval("c1", 700_000, 700_000), Interval("c2", 1, 600_000)], False),
    ([Interval("c3", 1, 100)], False),  # a contig with no reads
    ([Interval("zz", 1, 1000)], False),  # a contig absent from the header
    ([Interval("c2", 300_000, 310_000)], True),
    (None, True),  # only the unplaced-unmapped tail
]


def _read_maker(rng):
    def read(flags, contig, start, cigar, ref_len):
        seq = "".join(rng.choice("ACGT") for _ in range(60))
        qual = "".join(chr(33 + rng.randrange(2, 41)) for _ in range(60))
        end = start + ref_len - 1 if start is not None and cigar else start
        return (flags, contig, start, end, 60 if cigar else 0, cigar,
                None, None, 0, seq, qual, {"NM": "i:0"}, None)

    return read


def _reads(seed: int = 11) -> list[tuple]:
    rng = random.Random(seed)
    read = _read_maker(rng)
    rows = []
    for contig, length in CONTIGS[:2]:
        for s in sorted(rng.randrange(1, length - 300_000) for _ in range(1500)):
            kind = rng.random()
            if kind < 0.04:  # spliced: spans many 16 kb windows
                rows.append(read(0, contig, s, "30M250000N30M", 250_060))
            elif kind < 0.10:  # placed-unmapped mate: indexed, no cigar
                rows.append(read(4, contig, s, None, 1))
            else:
                rows.append(read(0, contig, s, "60M", 60))
        # reads straddling window edges land in the level-4 bins
        rows.extend(read(0, contig, (w << 14) - 20, "60M", 60) for w in range(1, 6))
        rows.sort(key=lambda r: (r[1], r[2]))
    rows.extend(read(4, None, None, None, 0) for _ in range(400))
    # names follow file order, so sorting by name restores it
    return [(f"r{i:05d}",) + r for i, r in enumerate(rows)]


def _pileup_reads(seed: int = 12) -> list[tuple]:
    """Deep coverage: every read starts in the first two 16 kb windows, so
    the .bai names only a few record starts for the whole pile."""
    rng = random.Random(seed)
    read = _read_maker(rng)
    rows = [read(0, "c1", s, "60M", 60) for s in sorted(rng.randrange(1, 30_000) for _ in range(3000))]
    return [(f"p{i:05d}",) + r for i, r in enumerate(rows)]


def _write_indexed(spark, path, rows):
    text = "@HD\tVN:1.6\tSO:coordinate\n" + "".join(
        f"@SQ\tSN:{n}\tLN:{ln}\n" for n, ln in CONTIGS
    )
    df = spark.createDataFrame(rows, READS_SCHEMA)
    write_bam(df, SamHeader(text=text), path, write_sbi=False, write_bai=True)
    assert os.path.exists(path + ".bai") and not os.path.exists(path + ".sbi")
    return path


@pytest.fixture(scope="module")
def indexed_bam(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("bai_planning")
    path = _write_indexed(spark, str(d / "sorted.bam"), _reads())
    assert os.path.getsize(path) > 3 * SPLIT_SIZES[1]
    return path


def _names(path, chunks, refs):
    out = []
    for vs, ve in chunks:
        cols = decode_chunk_cols(path, refs, vs, ve, with_seq=False, with_qual=False)
        out.extend(cols["name"] if cols else [])
    return out


def test_bai_planned_splits_decode_every_record_once(indexed_bam, monkeypatch):
    _h, refs, first = read_bam_header(indexed_bam)
    size = os.path.getsize(indexed_bam)
    want = [r[0] for r in _reads()]
    indexed = baimod.record_start_voffs(baimod.read_bai(indexed_bam + ".bai"))
    for split in SPLIT_SIZES:
        guesses = []
        real_guess = bam_source.find_record_start
        monkeypatch.setattr(
            bam_source, "find_record_start", lambda *a: guesses.append(1) or real_guess(*a)
        )
        chunks = plan_bam_chunks(indexed_bam, split, refs, first)
        monkeypatch.undo()
        # the guesser runs only for splits the index names no record
        # start inside, such as those in the unplaced-unmapped tail
        unindexed = [
            p for p in range(split, size, split)
            if bisect.bisect_left(indexed, p << 16) == bisect.bisect_left(indexed, (p + split) << 16)
        ]
        assert len(guesses) == len(unindexed)
        assert chunks[0][0] == first and chunks[-1][1] == size << 16
        assert all(a[1] == b[0] for a, b in zip(chunks, chunks[1:]))
        assert sum(vs not in indexed for vs, _ve in chunks[1:]) <= len(guesses)
        assert _names(indexed_bam, chunks, refs) == want


@pytest.mark.parametrize("split", SPLIT_SIZES[:3])
def test_bai_planning_matches_guesser_planning(indexed_bam, tmp_path, split):
    bare = str(tmp_path / "bare.bam")
    shutil.copyfile(indexed_bam, bare)  # no .bai: the record guesser plans
    _h, refs, first = read_bam_header(indexed_bam)
    by_index = plan_bam_chunks(indexed_bam, split, refs, first)
    by_guess = plan_bam_chunks(bare, split, refs, first)
    assert _names(indexed_bam, by_index, refs) == _names(bare, by_guess, refs)


def test_deep_coverage_keeps_as_many_splits_as_the_guesser(spark, tmp_path):
    """A split whose byte range holds no indexed record start (one 16 kb
    window of a deep pile is one leaf-bin chunk) falls back to the
    guesser instead of borrowing a later indexed start, so the pile is
    not folded into a few oversized splits."""
    rows = _pileup_reads()
    path = _write_indexed(spark, str(tmp_path / "pileup.bam"), rows)
    bare = str(tmp_path / "bare.bam")
    shutil.copyfile(path, bare)
    _h, refs, first = read_bam_header(path)
    indexed = baimod.record_start_voffs(baimod.read_bai(path + ".bai"))
    for split in (2048, 8192, 32768):
        by_index = plan_bam_chunks(path, split, refs, first)
        by_guess = plan_bam_chunks(bare, split, refs, first)
        assert len(by_guess) > len(indexed)  # the index alone is too coarse
        assert len(by_index) >= len(by_guess)
        assert _names(path, by_index, refs) == [r[0] for r in rows]


@pytest.mark.parametrize("split", SPLIT_SIZES)
@pytest.mark.parametrize("ivs,unplaced", QUERIES)
def test_span_plan_is_disjoint_inside_splits_and_packed(indexed_bam, split, ivs, unplaced):
    _h, refs, first = read_bam_header(indexed_bam)
    chunks = plan_bam_chunks(indexed_bam, split, refs, first)
    spans = _chunk_may_match(indexed_bam + ".bai", refs, chunks, ivs, unplaced)
    assert all(vs < ve for vs, ve in spans)
    assert all(a[1] <= b[0] for a, b in zip(spans, spans[1:]))
    owners = []
    for vs, ve in spans:
        inside = [i for i, (cs, ce) in enumerate(chunks) if cs <= vs and ve <= ce]
        assert len(inside) == 1
        owners.append(inside[0])
    parts = plan_bam_partitions([(indexed_bam, refs, first)], split, ivs, unplaced)
    assert [s for _p, g in parts for s in g] == spans
    assert len(parts) <= len(set(owners))
    # the spans of one split never land in two partitions
    part_of = [i for i, (_p, g) in enumerate(parts) for _s in g]
    for owner in set(owners):
        assert len({part_of[j] for j, o in enumerate(owners) if o == owner}) == 1
    # a full scan keeps one partition per planned split
    assert [g for _p, g in plan_bam_partitions([(indexed_bam, refs, first)], split)] == [
        [c] for c in chunks
    ]


def test_group_spans_keeps_a_split_whole_after_packing_into_an_earlier_one():
    """A split whose first span was packed into the previous split's
    partition keeps its later spans there, even past ``split_size``."""
    chunks = [(0, 100 << 16), (100 << 16, 200 << 16)]
    spans = [(0, 10 << 16), (100 << 16, 110 << 16), (150 << 16, 190 << 16)]
    assert bam_source._group_spans(spans, chunks, 30) == [spans]
    assert bam_source._group_spans(spans, chunks, 5) == [spans[:1], spans[1:]]


@pytest.mark.parametrize("ivs,unplaced", QUERIES)
def test_interval_reads_equal_brute_force_filter(spark, indexed_bam, ivs, unplaced):
    full, _ = read_bam(spark, indexed_bam, split_size=SPLIT_SIZES[1])
    want = sorted(map(tuple, filter_intervals(full, ivs, unplaced).select(COLS).collect()))
    if ivs is None or ivs[0].contig not in ("c3", "zz"):
        assert want
    got, _ = read_bam(
        spark, indexed_bam, split_size=SPLIT_SIZES[1], intervals=ivs,
        traverse_unplaced_unmapped=unplaced,
    )
    assert sorted(map(tuple, got.select(COLS).collect())) == want
    # file order survives span packing
    names = [r.name for r in got.select("name").collect()]
    assert names == sorted(names)

    register_datasources(spark)
    reader = spark.read.format("bam").option("split_size", str(SPLIT_SIZES[1]))
    if ivs is not None:
        reader = reader.option("intervals", ",".join(f"{i.contig}:{i.start}-{i.end}" for i in ivs))
    if unplaced:
        reader = reader.option("unplaced_unmapped", "true")
    ds = reader.load(indexed_bam)
    assert sorted(map(tuple, ds.select(COLS).collect())) == want


def test_interval_read_decodes_only_the_spans(spark, indexed_bam):
    """A narrow query decodes its spans, not whole splits: every matching
    record and few others."""
    _h, refs, first = read_bam_header(indexed_bam)
    ivs = [Interval("c1", 500_000, 520_000)]
    chunks = plan_bam_chunks(indexed_bam, 1 << 22, refs, first)
    decoded = _names(
        indexed_bam, _chunk_may_match(indexed_bam + ".bai", refs, chunks, ivs, False), refs
    )
    full, _ = read_bam(spark, indexed_bam)
    returned = [r.name for r in filter_intervals(full, ivs).select("name").collect()]
    assert returned and set(returned) <= set(decoded)
    assert len(decoded) < len(_reads()) / 10


@pytest.fixture
def bare_copy(indexed_bam, tmp_path):
    bare = str(tmp_path / "bare.bam")
    shutil.copyfile(indexed_bam, bare)
    return bare


def test_build_bai_equals_the_written_bai(spark, indexed_bam, bare_copy):
    bam_source.build_bai(spark, bare_copy, split_size=SPLIT_SIZES[1])
    with open(indexed_bam + ".bai", "rb") as a, open(bare_copy + ".bai", "rb") as b:
        assert b.read() == a.read()


def test_sbi_planned_reads_decode_every_record_once(spark, bare_copy):
    bam_source.build_sbi(spark, bare_copy, split_size=SPLIT_SIZES[1])
    assert os.path.exists(bare_copy + ".sbi") and not os.path.exists(bare_copy + ".bai")
    want = [r[0] for r in _reads()]
    for split in SPLIT_SIZES[:3]:
        df, _ = read_bam(spark, bare_copy, split_size=split)
        assert df.rdd.getNumPartitions() > 1
        assert [r.name for r in df.select("name").collect()] == want


def test_record_guesser_is_exact_on_the_generated_bam(spark, bare_copy):
    assert bam_source.check_record_guesser(spark, bare_copy, split_size=SPLIT_SIZES[0]).collect() == []
