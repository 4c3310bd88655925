"""spark.read.format("bam") / format("vcf") — Spark 4 Python DataSources.

This is the API surface the reference exposes through
``HtsjdkReadsRddStorage.read(path)`` (HtsjdkReadsRddStorage.java:144-160)
and ``HtsjdkVariantsRddStorage.read`` (HtsjdkVariantsRddStorage.java),
re-expressed as first-class Spark sources: after
``register_datasources(spark)`` any Spark user can

    spark.read.format("bam").option("split_size", 1 << 20).load("x.bam")
    spark.read.format("vcf").load("calls.vcf.bgz")

with no disq_spark-specific reader calls. Partition planning reuses the
same driver-side machinery as ``read_bam``/``read_vcf`` (BAM:
``plan_bam_partitions``, splits from the .sbi, else the .bai, else the
record-guess heuristic; VCF: BGZF block-aligned text ranges), so
partitioning behavior is identical to the functional API.

Scale notes:
- ``partitions()`` runs once on the driver and is pure metadata (index
  reads + arithmetic) — no Spark jobs, no file scans beyond headers.
- ``read()`` streams one chunk per task through the same pure-Python
  decoders used by the mapInPandas path.
- The functional API (``read_bam``) remains the fast path when you want
  column pruning (``columns=``) or interval pushdown; the Python
  DataSource API does not yet surface those hooks to us, so this reader
  decodes full rows and lets Spark filter afterwards. Correctness is
  identical; at scale prefer ``read_bam(intervals=...)`` for index
  pruning until the DataSource filter-pushdown API stabilizes.

Writes: ``df.write.format("bam")`` maps onto the DataSource writer
protocol exactly like the reference's sink (BamSink.java:60-139):
``write()`` tasks produce headerless/terminatorless BGZF parts plus
hidden per-part ``.sbi``/``.bai`` fragments, and the driver-side
``commit()`` performs the concat + terminator + offset-shifted index
merge. Task retries are safe because parts carry a unique suffix and
``commit()`` merges only the parts named in the collected commit
messages — stragglers are swept with the temp dir.
"""

from __future__ import annotations

import io

from disq_spark import fs as _dfs

import os
import uuid
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

DEFAULT_SPLIT_SIZE = 1 << 20


@dataclass
class BamChunk(InputPartition):
    path: str
    refs: list
    spans: tuple  # ((v_start, v_end), ...) decoded in order
    hosts: tuple = ()  # block-location hints (informational; see fs.block_locations)
    intervals: tuple | None = None  # ((contig, start, end), ...) residual filter
    unplaced_unmapped: bool = False
    columns: tuple | None = None  # projected column subset (READS_COLUMNS order)


class BamReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('bam') requires .load(path)")
        self.split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        # interval pushdown rides an option string (the Python DataSource
        # API has no filter-pushdown hook): .bai partition pruning at
        # plan time + an exact residual overlap filter in read()
        spec = options.get("intervals")
        if spec is not None:
            from disq_spark.functions.intervals import parse_intervals

            self.intervals = parse_intervals(spec)
        else:
            self.intervals = None
        self.unplaced_unmapped = str(options.get("unplaced_unmapped", "false")).lower() == "true"
        cols = options.get("columns")
        self.columns = [c.strip() for c in cols.split(",")] if cols else None

    def partitions(self) -> list[BamChunk]:
        from disq_spark.sources.bam_source import (
            BAM_EXTENSIONS,
            plan_bam_partitions,
            read_bam_header,
        )
        from disq_spark.sources.plan import resolve_paths

        iv_spec = (
            tuple((iv.contig, iv.start, iv.end) for iv in self.intervals)
            if self.intervals is not None
            else None
        )
        files = [(p, *read_bam_header(p)[1:]) for p in resolve_paths(self.path, BAM_EXTENSIONS)]
        refs_of = {p: refs for p, refs, _v in files}
        parts: list[BamChunk] = []
        for p, spans in plan_bam_partitions(
            files, self.split_size, self.intervals, self.unplaced_unmapped
        ):
            c0, c1 = spans[0][0] >> 16, spans[-1][1] >> 16
            hosts = tuple(_dfs.block_locations(p, c0, c1 - c0))
            parts.append(
                BamChunk(
                    p, refs_of[p], tuple(spans), hosts, iv_spec, self.unplaced_unmapped,
                    self.columns,
                )
            )
        # zero-record file: still need >=1 partition for an empty scan
        return parts or [BamChunk("", [], ())]

    def read(self, part: BamChunk) -> Iterator[tuple]:
        if not part.path:
            return
        from disq_spark.schemas import READS_COLUMNS
        from disq_spark.sources.bam_source import decode_chunk

        cols = list(part.columns) if part.columns else None
        # column pruning pushed INTO the decoder: seq/qual/tags are most
        # of the bytes and most of the decode time
        w_seq = cols is None or "seq" in cols
        w_qual = cols is None or "qual" in cols
        w_tags = cols is None or "tags" in cols or "read_group" in (cols or [])
        rows = (
            row
            for vs, ve in part.spans
            for row in decode_chunk(
                part.path, part.refs, vs, ve,
                with_seq=w_seq, with_qual=w_qual, with_tags=w_tags,
            )
            or ()
        )
        proj = (
            [i for i, c in enumerate(READS_COLUMNS) if c in cols] if cols is not None else None
        )

        def emit(row):
            if proj is None:
                return row
            return tuple(row[i] for i in proj)

        if part.intervals is None and not part.unplaced_unmapped:
            for row in rows:
                yield emit(row)
            return
        # residual filter (columns: 1=flags, 2=contig, 3=start, 4=end)
        for row in rows:
            contig, start, end = row[2], row[3], row[4]
            if part.intervals is not None and contig is not None and start is not None:
                if any(
                    contig == c and start <= e and end >= s
                    for c, s, e in part.intervals
                ):
                    yield emit(row)
                    continue
            if part.unplaced_unmapped and (row[1] & 4) != 0 and start is None:
                yield emit(row)


@dataclass
class BamPartCommit(WriterCommitMessage):
    part: str
    n: int


class BamWriter(DataSourceWriter):
    """df.write.format("bam"): parallel part encode, commit-time merge.

    The header cannot be inferred from rows (sequence dictionary order
    defines refIDs), so it is passed as an option: ``header_path`` (copy
    the header of an existing .sam/.bam file) or ``header_text`` (literal
    ``@``-line text). Mirrors the reference, where the caller always
    supplies a SAMFileHeader to the sink (BamSink.java:62-67).
    """

    def __init__(self, options: dict, overwrite: bool):
        from disq_spark.headers import SamHeader

        self.path = options.get("path")
        if not self.path:
            raise ValueError('format("bam") write requires .save(path)')
        header_text = options.get("header_text")
        header_path = options.get("header_path")
        if header_text:
            self.header = SamHeader(
                text=header_text if header_text.endswith("\n") else header_text + "\n"
            )
        elif header_path:
            if header_path.endswith(".bam"):
                from disq_spark.sources.bam_source import read_bam_header

                self.header, _refs, _ = read_bam_header(header_path)
            else:
                from disq_spark.sources.reads import read_sam_header

                self.header = read_sam_header(header_path)
        else:
            raise ValueError(
                'format("bam") write requires option("header_path", ...) or '
                'option("header_text", ...)'
            )
        self.refs = self.header.sequences
        self.ref_index = {name: i for i, (name, _l) in enumerate(self.refs)}
        self.granularity = int(options.get("sbi_granularity", 4096))
        self.write_sbi = options.get("write_sbi", "true").lower() == "true"
        bai_opt = options.get("write_bai")
        self.write_bai = (
            self.header.sort_order == "coordinate"
            if bai_opt is None
            else bai_opt.lower() == "true"
        )
        if _dfs.exists(self.path) and not overwrite:
            raise ValueError(f"path exists (use mode('overwrite')): {self.path}")
        # overwrite deletion is deferred to finalize_single (post-validation)
        # so a rejected commit leaves a pre-existing target untouched
        self.parts_dir = self.path + ".parts"
        _dfs.makedirs(self.parts_dir)

    def write(self, rows) -> BamPartCommit:
        from pyspark import TaskContext

        from disq_spark.sinks.bam import encode_part

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        # unique suffix → task retries never collide; commit() keeps only
        # the parts the scheduler reports as successful
        part = os.path.join(
            self.parts_dir, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}"
        )
        n = encode_part(
            (r.asDict() for r in rows),
            part,
            self.ref_index,
            self.granularity,
            self.write_bai,
        )
        return BamPartCommit(part=part if n else "", n=n)

    def commit(self, messages) -> None:
        from disq_spark.sinks.bam import finalize_single

        parts = sorted(m.part for m in messages if m is not None and m.part)
        finalize_single(
            self.path,
            self.parts_dir,
            self.header,
            self.refs,
            parts,
            self.write_sbi,
            self.write_bai,
        )

    def abort(self, messages) -> None:
        from disq_spark.sinks.merge import cleanup

        cleanup(self.parts_dir)


class BamDataSource(DataSource):
    """Splittable BAM scan + single-file write (BamSource.java:70,
    BamSink.java:60 equivalents)."""

    @classmethod
    def name(cls) -> str:
        return "bam"

    def schema(self):
        from disq_spark.schemas import READS_SCHEMA

        cols = self.options.get("columns")
        if cols:
            from pyspark.sql.types import StructType

            keep = [c.strip() for c in cols.split(",")]
            return StructType([f for f in READS_SCHEMA.fields if f.name in keep])
        return READS_SCHEMA

    def reader(self, schema) -> BamReader:
        return BamReader(self.options)

    def writer(self, schema, overwrite: bool) -> BamWriter:
        return BamWriter(self.options, overwrite)


@dataclass
class VcfRange(InputPartition):
    path: str
    start: int
    end: int
    kind: str  # plain | gzip | bgzf
    samples: list
    mode: str
    hosts: tuple = ()
    intervals: tuple | None = None  # ((contig, start, end), ...) residual filter


class VcfReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('vcf') requires .load(path)")
        self.split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self.mode = options.get("mode", "STRICT")
        spec = options.get("intervals")
        if spec is not None:
            from disq_spark.functions.intervals import parse_intervals

            self.intervals = parse_intervals(spec)
        else:
            self.intervals = None

    def partitions(self) -> list[VcfRange]:
        from disq_spark.sources.plan import resolve_paths
        from disq_spark.sources.variants import (
            VCF_EXTENSIONS,
            _compression,
            plan_ranges,
            read_header,
        )

        iv_spec = (
            tuple((iv.contig, iv.start, iv.end) for iv in self.intervals)
            if self.intervals is not None
            else None
        )
        paths = resolve_paths(self.path, VCF_EXTENSIONS)
        samples = read_header(paths[0]).samples
        parts: list[VcfRange] = []
        for p in paths:
            kind = _compression(p)
            if kind == "bgzf":
                p_ranges = [(r.path, r.start, r.end) for r in plan_ranges([p], self.split_size)]
                if iv_spec is not None and _dfs.exists(p + ".tbi"):
                    from disq_spark.formats.tabix import read_tbi, split_overlaps_intervals

                    idx = read_tbi(p + ".tbi")
                    p_ranges = [
                        r
                        for r in p_ranges
                        if split_overlaps_intervals(idx, r[1], r[2], list(iv_spec))
                    ]
                for rp, rs, re_ in p_ranges:
                    hosts = tuple(_dfs.block_locations(rp, rs, re_ - rs))
                    parts.append(
                        VcfRange(rp, rs, re_, "bgzf", samples, self.mode, hosts, iv_spec)
                    )
            else:
                parts.append(
                    VcfRange(p, 0, _dfs.getsize(p), kind, samples, self.mode,
                             tuple(_dfs.block_locations(p)), iv_spec)
                )
        return parts

    def read(self, part: VcfRange) -> Iterator[tuple]:
        import pandas as pd

        from disq_spark.formats.vcf import parse_vcf_lines
        from disq_spark.sources.variants import _range_lines

        if part.kind == "plain":
            with io.TextIOWrapper(_dfs.open_input(part.path)) as f:
                lines = [ln.rstrip("\n") for ln in f if not ln.startswith("#")]
        else:
            lines = [ln for ln in _range_lines(part.path, part.start, part.end)
                     if not ln.startswith("#")]
        if not lines:
            return
        pdf = parse_vcf_lines(pd.Series(lines, dtype="object"), part.samples, part.mode)
        for row in pdf.itertuples(index=False, name=None):
            # residual overlap filter (columns: 0=contig, 1=start, 2=end)
            if part.intervals is not None and not any(
                row[0] == c and row[1] <= e and row[2] >= s
                for c, s, e in part.intervals
            ):
                continue
            yield row


@dataclass
class VcfPartCommit(WriterCommitMessage):
    part: str
    n: int


class VcfWriter(DataSourceWriter):
    """df.write.format("vcf"): single-file VCF (plain or BGZF by target
    extension), optional distributed .tbi build+merge. Header comes from
    option("header_path", <existing .vcf[.gz|.bgz]>) or
    option("header_text", ...)."""

    BATCH = 4096

    def __init__(self, options: dict, overwrite: bool):
        from disq_spark.headers import VcfHeader

        self.path = options.get("path")
        if not self.path:
            raise ValueError('format("vcf") write requires .save(path)')
        header_text = options.get("header_text")
        header_path = options.get("header_path")
        if header_text:
            self.header = VcfHeader(
                text=header_text if header_text.endswith("\n") else header_text + "\n"
            )
        elif header_path:
            from disq_spark.sources.variants import read_header

            self.header = read_header(header_path)
        else:
            raise ValueError(
                'format("vcf") write requires option("header_path", ...) or '
                'option("header_text", ...)'
            )
        self.compress = self.path.endswith((".gz", ".bgz"))
        self.write_tbi = options.get("write_tbi", "false").lower() == "true"
        if self.write_tbi and not self.compress:
            raise ValueError("write_tbi requires a BGZF target (.gz/.bgz)")
        if _dfs.exists(self.path) and not overwrite:
            raise ValueError(f"path exists (use mode('overwrite')): {self.path}")
        # overwrite deletion is deferred to finalize_single (post-validation)
        self.parts_dir = self.path + ".parts"
        _dfs.makedirs(self.parts_dir)

    def write(self, rows) -> VcfPartCommit:
        import pandas as pd
        from pyspark import TaskContext

        from disq_spark.schemas import VARIANTS_COLUMNS
        from disq_spark.sinks.variants import encode_vcf_part

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        part = os.path.join(
            self.parts_dir, f"part-{pid:05d}-{uuid.uuid4().hex[:8]}"
        )

        def batches():
            # asDict keeps nested genotype Rows (format_vcf_line reads
            # them by field name) and makes us order-independent
            buf = []
            for r in rows:
                buf.append(r.asDict(recursive=False))
                if len(buf) >= self.BATCH:
                    yield pd.DataFrame(buf, columns=VARIANTS_COLUMNS)
                    buf = []
            if buf:
                yield pd.DataFrame(buf, columns=VARIANTS_COLUMNS)

        n = encode_vcf_part(
            batches(), part, self.header.samples, self.compress, self.write_tbi
        )
        return VcfPartCommit(part=part if n else "", n=n)

    def commit(self, messages) -> None:
        from disq_spark.sinks.variants import finalize_single

        parts = sorted(m.part for m in messages if m is not None and m.part)
        finalize_single(
            self.path, self.parts_dir, self.header, parts, self.compress, self.write_tbi
        )

    def abort(self, messages) -> None:
        from disq_spark.sinks.merge import cleanup

        cleanup(self.parts_dir)


class VcfDataSource(DataSource):
    """Splittable plain/gzip/BGZF VCF scan + single-file write
    (VcfSource.java:71, VcfSink.java:52 equivalents)."""

    @classmethod
    def name(cls) -> str:
        return "vcf"

    def schema(self):
        from disq_spark.schemas import VARIANTS_SCHEMA

        return VARIANTS_SCHEMA

    def reader(self, schema) -> VcfReader:
        return VcfReader(self.options)

    def writer(self, schema, overwrite: bool) -> VcfWriter:
        return VcfWriter(self.options, overwrite)


@dataclass
class SamRange(InputPartition):
    path: str
    start: int
    end: int
    mode: str
    hosts: tuple = ()
    intervals: tuple | None = None  # ((contig, start, end), ...) residual filter


class SamReader(DataSourceReader):
    """SAM text scan with Hadoop-style newline-aligned byte splits
    (SamSource.java:61-104 semantics): a line belongs to the split that
    contains its first byte, so each record is parsed exactly once."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('sam') requires .load(path)")
        self.split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self.mode = options.get("mode", "STRICT")
        spec = options.get("intervals")
        if spec is not None:
            from disq_spark.functions.intervals import parse_intervals

            self.intervals = tuple(
                (iv.contig, iv.start, iv.end) for iv in parse_intervals(spec)
            )
        else:
            self.intervals = None

    def partitions(self) -> list[SamRange]:
        from disq_spark.sources.plan import resolve_paths
        from disq_spark.sources.reads import SAM_EXTENSIONS

        parts: list[SamRange] = []
        for p in resolve_paths(self.path, SAM_EXTENSIONS):
            size = _dfs.getsize(p)
            for s in range(0, max(size, 1), self.split_size):
                e = min(s + self.split_size, size)
                parts.append(
                    SamRange(
                        p, s, e, self.mode,
                        tuple(_dfs.block_locations(p, s, e - s)), self.intervals,
                    )
                )
        return parts

    def read(self, part: SamRange) -> Iterator[tuple]:
        import pandas as pd

        from disq_spark.formats.sam import parse_sam_lines

        lines: list[str] = []
        with _dfs.open_input(part.path) as f:
            if part.start > 0:
                # skip the line straddling the boundary — it belongs to
                # the previous split (readline from start-1 lands on the
                # first line starting at offset >= start)
                f.seek(part.start - 1)
                f.readline()
            while f.tell() < part.end:
                line = f.readline()
                if not line:
                    break
                text = line.decode("utf-8").rstrip("\n")
                if text and not text.startswith("@"):
                    lines.append(text)
        if not lines:
            return
        pdf = parse_sam_lines(pd.Series(lines, dtype="object"), part.mode)
        for row in pdf.itertuples(index=False, name=None):
            # brute-force residual (SAM has no index; TraversalOverlap-
            # Detector semantics): 2=contig, 3=start, 4=end
            if part.intervals is not None:
                contig, start, end = row[2], row[3], row[4]
                if contig is None or start is None or not any(
                    contig == c and start <= e and end >= s
                    for c, s, e in part.intervals
                ):
                    continue
            yield row


class SamDataSource(DataSource):
    """Splittable SAM text scan (SamSource.java:49 equivalent)."""

    @classmethod
    def name(cls) -> str:
        return "sam"

    def schema(self):
        from disq_spark.schemas import READS_SCHEMA

        return READS_SCHEMA

    def reader(self, schema) -> SamReader:
        return SamReader(self.options)


@dataclass
class CramContainers(InputPartition):
    path: str
    start: int
    end: int
    refs: list
    reference_path: str | None
    missing_ref_as_n: bool
    hosts: tuple = ()
    intervals: tuple | None = None  # ((contig, start, end), ...) residual filter


class CramReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('cram') requires .load(path)")
        self.split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
        self.reference = options.get("reference")
        self.missing_ref_as_n = (
            options.get("missing_ref_as_n", "false").lower() == "true"
        )
        spec = options.get("intervals")
        if spec is not None:
            from disq_spark.functions.intervals import parse_intervals

            self.intervals = parse_intervals(spec)
        else:
            self.intervals = None

    def partitions(self) -> list[CramContainers]:
        from disq_spark.formats.cram_decode import read_cram_header
        from disq_spark.sources.cram_source import CRAM_EXTENSIONS, plan_cram
        from disq_spark.sources.plan import resolve_paths

        iv_spec = (
            tuple((iv.contig, iv.start, iv.end) for iv in self.intervals)
            if self.intervals is not None
            else None
        )
        paths = resolve_paths(self.path, CRAM_EXTENSIONS)
        _text, refs = read_cram_header(paths[0])
        parts: list[CramContainers] = []
        for p in paths:
            # .crai container pruning when intervals given (plan_cram drops
            # containers whose slice spans miss every interval)
            for _p, s, e in plan_cram(p, self.split_size, intervals=self.intervals, refs=refs):
                parts.append(
                    CramContainers(p, s, e, refs, self.reference, self.missing_ref_as_n,
                                   tuple(_dfs.block_locations(p, s, e - s)), iv_spec)
                )
        return parts or [CramContainers("", 0, 0, [], None, False)]

    def read(self, part: CramContainers) -> Iterator[tuple]:
        if not part.path:
            return
        from disq_spark.formats.cram_decode import decode_cram_range

        rows = decode_cram_range(
            part.path,
            part.start,
            part.end,
            part.refs,
            part.reference_path,
            missing_ref_as_n=part.missing_ref_as_n,
        )
        for row in rows or []:
            if part.intervals is not None:
                contig, start, end = row[2], row[3], row[4]
                if contig is None or start is None or not any(
                    contig == c and start <= e and end >= s
                    for c, s, e in part.intervals
                ):
                    continue
            yield row


class CramDataSource(DataSource):
    """Container-aligned CRAM scan (CramSource.java:67 equivalent)."""

    @classmethod
    def name(cls) -> str:
        return "cram"

    def schema(self):
        from disq_spark.schemas import READS_SCHEMA

        return READS_SCHEMA

    def reader(self, schema) -> CramReader:
        return CramReader(self.options)


@dataclass
class FastqRange(InputPartition):
    path: str
    start: int
    end: int
    hosts: tuple = ()

    def preferredLocations(self):
        return list(self.hosts)


class FastqReader(DataSourceReader):
    """Splittable FASTQ scan: boundaries snap forward to the next
    chain-validated record start (formats/fastq.find_record_start), so
    any split size reads each record exactly once. gzip inputs fall back
    to one whole-file partition."""

    def __init__(self, options):
        self.split_size = int(options.get("split_size", 128 * 1024 * 1024))
        self.path = options.get("path")
        if not self.path:
            raise ValueError('format("fastq") requires .load(path)')

    def partitions(self):
        from disq_spark.sources.fastq import FASTQ_EXTENSIONS, _snap
        from disq_spark.sources.plan import resolve_paths

        parts = []
        for p in resolve_paths(self.path, FASTQ_EXTENSIONS):
            size = _dfs.getsize(p)
            if p.endswith(".gz"):
                parts.append(FastqRange(p, 0, size, tuple(_dfs.block_locations(p, 0, size))))
                continue
            nsplits = max(1, (size + self.split_size - 1) // self.split_size)
            raw = [i * self.split_size for i in range(nsplits)] + [size]
            snapped = [_snap(p, b, size) for b in raw]
            for s, e in zip(snapped, snapped[1:]):
                if e > s:
                    parts.append(FastqRange(p, s, e, tuple(_dfs.block_locations(p, s, e - s))))
        return parts

    def read(self, part: FastqRange):
        import gzip as _gz

        from disq_spark.formats import fastq as fq

        if part.path.endswith(".gz"):
            with _gz.open(_dfs.open_input(part.path), "rt", encoding="ascii") as f:
                lines = f.read().splitlines()
        else:
            with _dfs.open_input(part.path) as f:
                f.seek(part.start)
                data = f.read(part.end - part.start)
                while data and not data.endswith(b"\n"):
                    more = f.read(1 << 16)
                    if not more:
                        break
                    data += more
            lines_b = data.split(b"\n")
            if lines_b and lines_b[-1] == b"":
                lines_b.pop()
            lines = [x.decode("ascii") for x in lines_b]
        if not lines:
            return
        cols = fq.parse_lines(lines)
        yield from zip(cols["name"], cols["comment"], cols["seq"], cols["qual"])


class FastqDataSource(DataSource):
    """Splittable FASTQ text scan (beyond-reference format)."""

    @classmethod
    def name(cls) -> str:
        return "fastq"

    def schema(self):
        from disq_spark.sources.fastq import FASTQ_SCHEMA

        return FASTQ_SCHEMA

    def reader(self, schema) -> FastqReader:
        return FastqReader(self.options)


@dataclass
class FastaWindow(InputPartition):
    path: str
    contig: str
    start: int
    end: int


class FastaReader(DataSourceReader):
    """Reference-genome window scan: planning reads only the .fai; each
    task random-accesses its window (plain .fai arithmetic or bgzip
    .gzi block lookup) — O(window) I/O, nothing loads a whole contig."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError('format("fasta") requires .load(path)')
        self.window = int(options.get("window", 1_000_000))
        self.overlap = int(options.get("overlap", 0))

    def partitions(self):
        from disq_spark.formats.gzi import read_fai

        fai = read_fai(self.path + ".fai")
        parts = []
        for name, e in fai.items():
            s = 1
            while s <= e.length:
                parts.append(
                    FastaWindow(self.path, name, s, min(s + self.window - 1, e.length))
                )
                s += self.window
        return parts

    def read(self, part: FastaWindow):
        from disq_spark.formats.gzi import open_indexed_reference

        ref = open_indexed_reference(part.path)
        seq = ref.get(
            part.contig,
            part.start,
            min(part.end + self.overlap, ref.fai[part.contig].length),
        )
        yield (part.contig, part.start, part.end, seq)


class FastaDataSource(DataSource):
    """Windowed reference FASTA scan (beyond-reference format).

    Options: window (bases per row, default 1e6), overlap (extra bases
    appended to seq for boundary-spanning k-mer ownership)."""

    @classmethod
    def name(cls) -> str:
        return "fasta"

    def schema(self):
        from disq_spark.sources.fasta import FASTA_WINDOW_SCHEMA

        return FASTA_WINDOW_SCHEMA

    def reader(self, schema) -> FastaReader:
        return FastaReader(self.options)


@dataclass
class BedFile(InputPartition):
    path: str


class BedReader(DataSourceReader):
    """BED region lists -> 1-based closed intervals (conversion happens
    here, once). One partition per file — region lists are metadata-
    sized; use sources/bed.read_bed (spark.read.text) for giant BEDs."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError('format("bed") requires .load(path)')

    def partitions(self):
        from disq_spark.sources.plan import resolve_paths

        return [BedFile(p) for p in resolve_paths(self.path, (".bed",))]

    def read(self, part: BedFile):
        import io as _io

        from disq_spark.sources.bed import parse_bed_line

        with _io.TextIOWrapper(_dfs.open_input(part.path), encoding="utf-8") as f:
            for line in f:
                parsed = parse_bed_line(line)
                if parsed is not None:
                    yield parsed


class BedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bed"

    def schema(self):
        return "contig string, start long, end long, name string"

    def reader(self, schema) -> BedReader:
        return BedReader(self.options)


@dataclass
class WarcChunk(InputPartition):
    path: str
    start: int
    end: int
    is_gz: bool


class WarcReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("format('warc') requires .load(path)")
        self.split_size = int(options.get("split_size", 64 * 1024 * 1024))

    def partitions(self) -> list[WarcChunk]:
        from disq_spark.sources.warc import plan_warc_chunks

        return [
            WarcChunk(p, s, e, gz)
            for p, s, e, gz in plan_warc_chunks(self.path, self.split_size)
        ]

    def read(self, part: WarcChunk) -> Iterator[tuple]:
        from disq_spark.sources.warc import decode_warc_chunks

        for pdf in decode_warc_chunks([(part.path, part.start, part.end, part.is_gz)]):
            for row in pdf.itertuples(index=False):
                yield tuple(row)


class WarcStreamReader(DataSourceStreamReader):
    """spark.readStream.format("warc").load(dir) — incremental crawl
    ingestion: each microbatch picks up the segment files that appeared
    since the last committed offset (Common Crawl dumps land as
    thousands of immutable .warc.gz segments over hours).

    Offset = {"files": {basename: size}} — the set of fully-ingested
    segments with their sizes pinned at discovery. Contract matches
    Spark's own file streaming source: segments must be IMMUTABLE and
    atomically moved into the directory (a half-written file is
    ingested as-is and never re-read); growth of an already-seen file
    is ignored. Within a batch each new file fans out into
    split_size byte-range chunks through the same exactly-once
    member-snap kernel the batch source uses, so a single huge segment
    still parallelizes across the cluster.

    Known scale bound: the offset IS the seen-file map, so each
    trigger's offset JSON (and the directory listing diff) grows
    O(total segments ever seen) — fine for the thousands-of-segments
    tail this targets, but a months-long tail of a ~100k-segment dump
    wants Spark's file-source pattern instead (seen-file state in a
    compacted metadata log, offsets as log positions). Recipe: keep
    {files} in a per-checkpoint parquet ledger keyed by batch id and
    make the offset {"ledger_version": N}."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("readStream format('warc') requires .load(dir)")
        self.split_size = int(options.get("split_size", 64 * 1024 * 1024))

    def initialOffset(self) -> dict:
        return {"files": {}}

    def latestOffset(self) -> dict:
        from disq_spark import fs as _dfs
        from disq_spark.sources.plan import resolve_paths

        try:
            paths = resolve_paths(self.path, (".warc", ".warc.gz"))
        except FileNotFoundError:
            return {"files": {}}
        return {
            "files": {os.path.basename(p): _dfs.getsize(p) for p in paths}
        }

    def partitions(self, start: dict, end: dict):
        from disq_spark import fs as _dfs
        from disq_spark.sources.plan import resolve_paths

        seen = start.get("files", {})
        new_names = {
            n: sz for n, sz in end.get("files", {}).items() if n not in seen
        }
        if not new_names:
            # Spark requires >= 1 partition per batch; emit one empty chunk
            return [WarcChunk("", 0, 0, False)]
        try:
            by_name = {
                os.path.basename(p): p
                for p in resolve_paths(self.path, (".warc", ".warc.gz"))
            }
        except FileNotFoundError:
            return [WarcChunk("", 0, 0, False)]
        from disq_spark.sources.warc import chunk_ranges

        out = []
        for n, size in sorted(new_names.items()):
            p = by_name.get(n)
            if p is None:
                continue  # vanished between offsets; size pinned said ingested
            is_gz = p.endswith(".gz")
            for s, e in chunk_ranges(size, self.split_size):
                out.append(WarcChunk(p, s, e, is_gz))
        return out or [WarcChunk("", 0, 0, False)]

    def read(self, part: WarcChunk) -> Iterator[tuple]:
        if not part.path:
            return
        from disq_spark.sources.warc import decode_warc_chunks

        for pdf in decode_warc_chunks([(part.path, part.start, part.end, part.is_gz)]):
            for row in pdf.itertuples(index=False):
                yield tuple(row)

    def commit(self, end: dict) -> None:
        pass  # offsets are the full state; nothing external to release


class WarcDataSource(DataSource):
    """spark.read.format("warc").load(file | dir | glob) — the crawl
    ingestion source (Common Crawl .warc.gz segments) as a first-class
    Spark source, same fs-registry path resolution and exactly-once
    split-snap contract as read_warc. Also streamable:
    spark.readStream.format("warc").load(dir) tails a segment
    directory (see WarcStreamReader)."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self):
        from disq_spark.sources.warc import WARC_SCHEMA

        return WARC_SCHEMA

    def reader(self, schema) -> WarcReader:
        return WarcReader(self.options)

    def streamReader(self, schema) -> WarcStreamReader:
        return WarcStreamReader(self.options)


def register_datasources(spark) -> None:
    """Register bam/sam/cram/vcf/fastq/fasta/bed/warc with a SparkSession:
    enables spark.read.format(...) and df.write.format("bam")."""
    spark.dataSource.register(BamDataSource)
    spark.dataSource.register(SamDataSource)
    spark.dataSource.register(CramDataSource)
    spark.dataSource.register(VcfDataSource)
    spark.dataSource.register(FastqDataSource)
    spark.dataSource.register(FastaDataSource)
    spark.dataSource.register(BedDataSource)
    spark.dataSource.register(WarcDataSource)
