"""Tabix split pruning: parity with TribbleIndexIntervalFiltering
(pruned read == full read + filter; fewer splits scanned)."""

import gzip
import os

from disq_spark.formats.tabix import chunks_for_interval, read_tbi, split_overlaps_intervals
from disq_spark.functions.intervals import Interval, overlaps
from disq_spark.sources.variants import read_vcf


def _contig_of(fixtures_dir):
    with gzip.open(os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz"), "rt") as f:
        for line in f:
            if not line.startswith("#"):
                return line.split("\t", 1)[0]


def test_read_tbi(fixtures_dir):
    idx = read_tbi(os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz.tbi"))
    assert idx.names
    contig = _contig_of(fixtures_dir)
    assert contig in idx.names
    chunks = chunks_for_interval(idx, contig, 1, 10_000_000)
    assert chunks
    assert chunks_for_interval(idx, "no_such_contig", 1, 100) == []


def test_pruned_read_equals_filtered_read(spark, fixtures_dir):
    path = os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz")
    contig = _contig_of(fixtures_dir)
    ivs = [Interval(contig, 800_000, 900_000)]

    full, _ = read_vcf(spark, path, split_size=64 * 1024)
    expect = full.filter(overlaps(ivs)).count()

    pruned, _ = read_vcf(spark, path, split_size=64 * 1024, intervals=ivs)
    assert pruned.count() == expect
    assert expect > 0

    # pruning actually dropped splits: the planned partition count must be
    # smaller than the unpruned plan for a narrow interval
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()


def test_split_overlap_primitive(fixtures_dir):
    path = os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz")
    idx = read_tbi(path + ".tbi")
    contig = _contig_of(fixtures_dir)
    size = os.path.getsize(path)
    triples = [(contig, 1, 5_000_000_000)]
    # the whole file overlaps a whole-contig interval
    assert split_overlaps_intervals(idx, 0, size, triples)
    # a range past EOF cannot
    assert not split_overlaps_intervals(idx, size + 10, size + 20, [(contig, 1, 2)])


# ---------------------------------------------------------------------------
# distributed .tbi write + merge (HeaderlessVcfOutputFormat + TbiMerger
# analog of TbiMergingTest.java: distributed merge == serial single-pass
# build of the final file, and the index actually works for pruning)
# ---------------------------------------------------------------------------
def _serial_tbi(path):
    """Ground-truth tabix index: single pass over the finished BGZF VCF."""
    from disq_spark.formats import bgzf
    from disq_spark.formats.tabix import TbiBuilder

    b = TbiBuilder()
    blocks = list(bgzf.scan_blocks(path))
    # walk records with exact virtual offsets (line by line across blocks)
    with open(path, "rb") as f:
        carry = b""
        carry_voff = None
        for blk in blocks:
            data = bgzf.decompress_block(f, blk.pos)
            off = 0
            while True:
                nl = data.find(b"\n", off)
                if nl < 0:
                    if off < len(data):
                        if not carry:
                            carry_voff = (blk.pos << 16) | off
                        carry += data[off:]
                    break
                if carry:
                    line = carry + data[off : nl + 1]
                    v_start = carry_voff
                    carry = b""
                else:
                    line = data[off : nl + 1]
                    v_start = (blk.pos << 16) | off
                nxt = nl + 1
                v_end = (blk.end << 16) if nxt >= len(data) else ((blk.pos << 16) | nxt)
                if not line.startswith(b"#"):
                    fld = line.split(b"\t", 4)
                    contig, pos, ref = fld[0].decode(), int(fld[1]), fld[3].decode()
                    b.add(contig, pos, pos + len(ref) - 1, v_start, v_end)
                off = nxt
    return b.build()


def test_written_tbi_matches_serial_build(spark, fixtures_dir, tmp_path):
    from disq_spark.formats.tabix import read_tbi as _read
    from disq_spark.sinks.variants import write_vcf

    src = os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz")
    df, header = read_vcf(spark, src, split_size=64 * 1024)  # multi-partition
    out = str(tmp_path / "out.vcf.bgz")
    write_vcf(df, header, out, write_tbi=True)
    assert os.path.exists(out + ".tbi")

    merged = _read(out + ".tbi")
    serial = _serial_tbi(out)
    assert merged.names == serial.names
    assert merged.bins == serial.bins
    assert merged.stats == serial.stats

    # merged came off disk (absent windows carry forward per
    # hts_idx_finish); apply the same fill to the in-memory serial build
    def fill(lin):
        out_l, prev = [], 0
        for v in lin:
            prev = v if v >= 0 else prev
            out_l.append(prev)
        return out_l

    assert merged.linear == [fill(lin) for lin in serial.linear]


def test_build_tbi_bytes_match_tabix_fixture(spark, fixtures_dir, tmp_path):
    """Distributed .tbi construction over the htsjdk-shipped BGZF VCF
    reproduces the shipped tabix-built index BYTE-FOR-BYTE — raw file
    bytes, compression included (the reference's own hardest index bar,
    TbiMergingTest.java-style assertArrayEquals). Covers khash bin
    layout, the metadata pseudo-bin, linear fill-forward, htslib voff
    normalization at block boundaries, and the n_no_coor trailer."""
    import shutil

    from disq_spark.sources.variants import build_tbi

    for name in ("HiSeq.10000.vcf.bgz", "HiSeq.10000.vcf.bgzf.gz"):
        src = os.path.join(fixtures_dir, name)
        local = str(tmp_path / name)
        shutil.copy(src, local)
        out = build_tbi(spark, local, split_size=64 * 1024)
        with open(out, "rb") as f:
            mine = f.read()
        with open(src + ".tbi", "rb") as f:
            want = f.read()
        assert mine == want, f"{name}: built .tbi differs from fixture"


def test_build_tbi_split_invariant(spark, fixtures_dir, tmp_path):
    """The built index must not depend on the split plan: per-split
    fragments merged in file order == one-split serial scan."""
    import shutil

    from disq_spark.sources.variants import build_tbi

    src = os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz")
    a = str(tmp_path / "a.vcf.bgz")
    b = str(tmp_path / "b.vcf.bgz")
    shutil.copy(src, a)
    shutil.copy(src, b)
    out_a = build_tbi(spark, a, split_size=16 * 1024)  # ~26 splits
    out_b = build_tbi(spark, b, split_size=1 << 30)  # single split
    with open(out_a, "rb") as f:
        bytes_a = f.read()
    with open(out_b, "rb") as f:
        bytes_b = f.read()
    assert bytes_a == bytes_b


def test_written_tbi_prunes_correctly(spark, fixtures_dir, tmp_path):
    from disq_spark.sinks.variants import write_vcf

    src = os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz")
    df, header = read_vcf(spark, src, split_size=64 * 1024)
    out = str(tmp_path / "q.vcf.bgz")
    write_vcf(df, header, out, write_tbi=True)

    contig = _contig_of(fixtures_dir)
    ivs = [Interval(contig, 800_000, 900_000)]
    full, _ = read_vcf(spark, out, split_size=64 * 1024)
    expect = sorted(
        map(tuple, full.filter(overlaps(ivs)).select("contig", "start", "ref").collect())
    )
    pruned, _ = read_vcf(spark, out, split_size=64 * 1024, intervals=ivs)
    got = sorted(map(tuple, pruned.select("contig", "start", "ref").collect()))
    assert got == expect and len(got) > 0
    assert pruned.rdd.getNumPartitions() < full.rdd.getNumPartitions()


def test_tbi_build_refuses_unsorted_input():
    """Indexing unsorted records would produce a silently-corrupt index
    (regions pruned that DO contain data); the builder must refuse,
    matching htsjdk TabixIndexCreator's features-out-of-order error."""
    import pytest

    from disq_spark.formats.tabix import TbiBuilder

    b = TbiBuilder()
    b.add("20", 1000, 1010, 0, 100)
    with pytest.raises(ValueError, match="coordinate-sorted"):
        b.add("20", 500, 510, 100, 200)

    b2 = TbiBuilder()
    b2.add("20", 1000, 1010, 0, 100)
    b2.add("21", 50, 60, 100, 200)
    with pytest.raises(ValueError, match="contig-grouped"):
        b2.add("20", 2000, 2010, 200, 300)


def test_tbi_merge_refuses_globally_interleaved_parts(spark, fixtures_dir, tmp_path):
    """Per-part-sorted but globally-interleaved VCF parts must be
    refused at merge time (cross-part analog of the builder guard)."""
    import os

    import pytest

    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.variants import read_vcf

    df, header = read_vcf(spark, os.path.join(fixtures_dir, "HiSeq.10000.vcf.bgz"))
    bad = df.repartition(3).sortWithinPartitions("contig", "start")
    with pytest.raises(Exception, match="globally coordinate-sorted"):
        write_vcf(bad, header, str(tmp_path / "bad.vcf.bgz"), write_tbi=True)


def test_tbi_cross_part_check_sees_interior_contigs(tmp_path):
    """The two holes from review: (1) a later part revisiting a contig
    INTERIOR to an earlier part, (2) a part whose own LAST contig
    revisits an earlier one — both must be refused; a legal continuation
    must pass."""
    import pytest

    from disq_spark.sinks import merge
    from disq_spark.sinks.variants import _check_cross_part_order

    d = str(tmp_path)

    def sidecar(base, contigs, first, last):
        merge.write_order_sidecar(d, base, {"contigs": contigs, "first": first, "last": last})
        return base

    # hole 1: chr2 is interior to part0, revisited by part1
    p0 = sidecar("part-00000", ["chr1", "chr2", "chr3"], ["chr1", 100], ["chr3", 50])
    p1 = sidecar("part-00001", ["chr2"], ["chr2", 10], ["chr2", 99])
    with pytest.raises(ValueError, match="contig-grouped"):
        _check_cross_part_order(d, [p0, p1])

    # hole 2: part1's LAST contig revisits part0's first
    p0 = sidecar("part-00010", ["chr1", "chr2"], ["chr1", 5], ["chr2", 9])
    p1 = sidecar("part-00011", ["chr2", "chr1"], ["chr2", 20], ["chr1", 3])
    with pytest.raises(ValueError, match="contig-grouped"):
        _check_cross_part_order(d, [p0, p1])

    # legal: same-contig continuation then a fresh contig
    p0 = sidecar("part-00020", ["chr1"], ["chr1", 5], ["chr1", 50])
    p1 = sidecar("part-00021", ["chr1", "chr2"], ["chr1", 50], ["chr2", 10])
    _check_cross_part_order(d, [p0, p1])

    # position regression on the open contig
    p1 = sidecar("part-00022", ["chr1"], ["chr1", 40], ["chr1", 90])
    with pytest.raises(ValueError, match="coordinate-sorted"):
        _check_cross_part_order(d, [p0, p1])


def test_tbi_pruning_keeps_the_split_owning_a_block_start_line(spark, tmp_path):
    """A line at offset 0 of the first BGZF block at or after a split's end
    belongs to that split (text-split ownership), so .tbi pruning must keep
    it: each record whose tabix chunk starts at block offset 0 is queried
    alone, at split sizes down to one smaller than a BGZF block."""
    from disq_spark.formats import bgzf
    from disq_spark.headers import VcfHeader
    from disq_spark.schemas import VARIANTS_SCHEMA
    from disq_spark.sinks.variants import write_vcf
    from disq_spark.sources.plan import plan_ranges
    from disq_spark.sources.variants import _range_lines

    header = VcfHeader.from_lines(
        [
            "##fileformat=VCFv4.2",
            "##contig=<ID=20,length=1000000>",
            '##INFO=<ID=X,Number=1,Type=String,Description="padding">',
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
        ]
    )
    # 7 parts of 400 records, 40 kb apart: each part starts a new BGZF
    # block and a new 16 kb window, so its first record's tabix chunk
    # begins at offset 0 of a block
    rows = []
    for i in range(2800):
        pos = 40_000 * (i // 400) + 50 * (i % 400) + 1
        rows.append(("20", pos, pos, None, "A", ["C"], 50.0, [], {"X": f"{i:x}" * (i % 40)}, None))
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 7), VARIANTS_SCHEMA)
    out = str(tmp_path / "blocks.vcf.bgz")
    write_vcf(df, header, out, write_tbi=True)
    idx = read_tbi(out + ".tbi")

    # one record per distinct chunk begin at block offset 0
    at_block_start = {}  # chunk begin -> (start, end)
    for r in rows:
        for cb, _ce in chunks_for_interval(idx, "20", r[1], r[2]):
            if cb & 0xFFFF == 0:
                at_block_start.setdefault(cb, (r[1], r[2]))
    assert len(at_block_start) >= 6
    block = max(b.c_size for b in bgzf.scan_blocks(out))
    for split in (block // 3, block, 3 * block, 1 << 20):
        ranges = plan_ranges([out], split)
        for start, end in at_block_start.values():
            kept = [
                g for g in ranges if split_overlaps_intervals(idx, g.start, g.end, [("20", start, end)])
            ]
            lines = [ln for g in kept for ln in _range_lines(out, g.start, g.end)]
            assert any(ln.startswith(f"20\t{start}\t") for ln in lines), (split, start)
            got, _ = read_vcf(spark, out, split_size=split, intervals=[Interval("20", start, end)])
            assert [v.start for v in got.select("start").collect()] == [start], (split, start)


def test_generated_bgzf_vcf_reads_every_record_once(spark, generated_vcf):
    path, want = generated_vcf
    for split in (8_000, 40_000, 1 << 20):
        df, _ = read_vcf(spark, path, split_size=split)
        assert [(r.contig, r.start) for r in df.select("contig", "start").collect()] == want


def test_build_tbi_equals_the_written_tbi(spark, generated_vcf, tmp_path):
    import shutil

    from disq_spark.sources.variants import build_tbi

    path, _ = generated_vcf
    bare = str(tmp_path / "bare.vcf.bgz")
    shutil.copyfile(path, bare)  # no .tbi
    build_tbi(spark, bare, split_size=8_000)
    with open(path + ".tbi", "rb") as a, open(bare + ".tbi", "rb") as b:
        assert b.read() == a.read()
