"""BAI (BAM binning index) read / write / distributed build / merge.

Re-expresses the reference's distributed .bai construction
(HeaderlessBamOutputFormat.java:102-147 build-during-write +
BaiMerger.java:41-69 / htsjdk BAMIndexMerger offset-shifted merge):
each part task runs a ``BaiBuilder`` over the records it encodes, using
part-relative virtual offsets; the driver shifts every offset by the
cumulative compressed byte length of the preceding parts (header file
included) and merges bins / linear indexes / metadata.

The reference's trickiest concat-correctness detail — patching the last
record's chunk end to a "safe" virtual offset before finish
(HeaderlessBamOutputFormat.java:132-147) — is structural here: our BGZF
writer's ``virtual_offset`` after the final record is already
(compressed_len << 16 | pending), which shifts to the start of the next
part, exactly the patched value htsjdk computes.

.bai layout (SAM spec §5.2, little-endian, NOT BGZF-compressed):
  magic 'BAI\\x01', n_ref:i32;
  per ref: n_bin:i32, per bin {bin:u32, n_chunk:i32,
  chunks (beg:u64, end:u64)}, n_intv:i32, ioff:u64[n_intv];
  optional n_no_coor:u64.
Pseudo-bin 37450 per ref carries {(ref_beg, ref_end), (n_mapped,
n_unmapped)} metadata (samtools convention, also written by htsjdk).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

from disq_spark import fs

MAGIC = b"BAI\x01"
PSEUDO_BIN = 37450
LINEAR_SHIFT = 14  # 16 kb windows


@dataclass
class RefIndex:
    # {bin: [(chunk_beg_voff, chunk_end_voff), ...]} — PSEUDO_BIN excluded
    bins: dict[int, list[tuple[int, int]]] = field(default_factory=dict)
    # linear[w] = lower-bound voff for records overlapping window w;
    # -1 = window not covered (in-memory convention). On-disk, final
    # indexes store absent as 0 (the spec convention — safe, 0 is never a
    # real record voff in a finished file, the header precedes all data);
    # part FRAGMENTS store v+1 with 0 = absent, because part-relative
    # voff 0 IS a real offset (the part's first record) and the merge
    # must not confuse it with absence.
    linear: list[int] = field(default_factory=list)
    # metadata pseudo-bin payload
    ref_beg: int | None = None
    ref_end: int | None = None
    n_mapped: int = 0
    n_unmapped: int = 0

    @property
    def has_data(self) -> bool:
        return bool(self.bins) or self.n_mapped or self.n_unmapped


@dataclass
class BaiIndex:
    refs: list[RefIndex]
    n_no_coor: int | None = None


def _reg2bins(beg: int, end: int) -> list[int]:
    """All bins overlapping 0-based half-open [beg, end) (SAM spec §5.3)."""
    out = [0]
    end -= 1
    for shift, base in ((26, 1), (23, 9), (20, 73), (17, 585), (14, 4681)):
        out.extend(range(base + (beg >> shift), base + (end >> shift) + 1))
    return out


class BaiBuilder:
    """Incremental per-part index builder (htsjdk BAMIndexer semantics).

    ``add`` is called once per record *in file order* with part-relative
    virtual offsets; consecutive chunks in the same bin coalesce when
    adjacent/overlapping, so a sorted part yields near-minimal chunks.
    """

    def __init__(self, n_ref: int):
        self.refs = [RefIndex() for _ in range(n_ref)]
        self.n_no_coor = 0
        self._last: tuple[int, int] | None = None  # (ref_id, pos0)

    def add(
        self,
        ref_id: int,
        pos0: int,
        end0: int,
        rec_bin: int,
        v_start: int,
        v_end: int,
        is_mapped: bool,
    ) -> None:
        """One record: 0-based [pos0, end0) span, its bin field, and the
        virtual-offset chunk it occupies in the part."""
        if ref_id < 0 or pos0 < 0:
            self.n_no_coor += 1
            return
        # a header can CLAIM coordinate sort while the rows are not;
        # indexing them would silently corrupt linear/chunk structure
        # (htsjdk BAMIndexer raises "Alignment record out of order")
        if self._last is not None and (ref_id, pos0) < self._last:
            raise ValueError(
                f".bai build requires coordinate-sorted records: "
                f"ref {ref_id}:{pos0} after ref {self._last[0]}:{self._last[1]}"
            )
        self._last = (ref_id, pos0)
        r = self.refs[ref_id]
        if is_mapped:
            r.n_mapped += 1
        else:
            r.n_unmapped += 1
        r.ref_beg = v_start if r.ref_beg is None else min(r.ref_beg, v_start)
        r.ref_end = v_end if r.ref_end is None else max(r.ref_end, v_end)

        chunks = r.bins.setdefault(rec_bin, [])
        if chunks and v_start <= chunks[-1][1]:
            last = chunks[-1]
            chunks[-1] = (last[0], max(last[1], v_end))
        else:
            chunks.append((v_start, v_end))

        end0 = max(end0, pos0 + 1)
        w_beg, w_end = pos0 >> LINEAR_SHIFT, (end0 - 1) >> LINEAR_SHIFT
        if len(r.linear) <= w_end:
            r.linear.extend([-1] * (w_end + 1 - len(r.linear)))  # -1 = unset
        for w in range(w_beg, w_end + 1):
            if r.linear[w] < 0 or v_start < r.linear[w]:
                r.linear[w] = v_start

    def build(self) -> BaiIndex:
        return BaiIndex(self.refs, self.n_no_coor)


def patch_dangling_end(idx: BaiIndex, dangling_voff: int, safe_voff: int) -> None:
    """Rewrite the part's final chunk-end virtual offset to its canonical
    form — the HeaderlessBamOutputFormat.java:132-147 concat-correctness
    patch. The last record's end voff is recorded as (last_block << 16 |
    block_len) before the final flush; the canonical equivalent after the
    part is finished is (part_length << 16 | 0), which shifts to the
    start of the next part on merge."""
    for r in idx.refs:
        if r.ref_end == dangling_voff:
            r.ref_end = safe_voff
        for chunks in r.bins.values():
            for i, (cb, ce) in enumerate(chunks):
                if ce == dangling_voff:
                    chunks[i] = (cb, safe_voff)


def _encode_linear(lin: list[int], fragment: bool) -> list[int]:
    if fragment:
        return [v + 1 if v >= 0 else 0 for v in lin]
    return [max(v, 0) for v in lin]


def _decode_linear(lin: list[int], fragment: bool) -> list[int]:
    if fragment:
        return [v - 1 if v > 0 else -1 for v in lin]
    return lin


def write_bai(path: str, idx: BaiIndex, fragment: bool = False) -> None:
    """``fragment=True`` = hidden per-part intermediate (biased linear
    encoding, see RefIndex.linear); False = spec-compliant final index."""
    with fs.open_output(path) as f:
        f.write(MAGIC)
        f.write(struct.pack("<i", len(idx.refs)))
        for r in idx.refs:
            bins = sorted(r.bins.items())
            n_bin = len(bins) + (1 if r.has_data else 0)  # + pseudo-bin
            f.write(struct.pack("<i", n_bin))
            for b, chunks in bins:
                f.write(struct.pack("<Ii", b, len(chunks)))
                for cb, ce in chunks:
                    f.write(struct.pack("<QQ", cb, ce))
            if r.has_data:
                f.write(struct.pack("<Ii", PSEUDO_BIN, 2))
                f.write(struct.pack("<QQ", r.ref_beg or 0, r.ref_end or 0))
                f.write(struct.pack("<QQ", r.n_mapped, r.n_unmapped))
            lin = _encode_linear(r.linear, fragment)
            f.write(struct.pack("<i", len(lin)))
            if lin:
                f.write(struct.pack(f"<{len(lin)}Q", *lin))
        if idx.n_no_coor is not None:
            f.write(struct.pack("<Q", idx.n_no_coor))


def read_bai(path: str, fragment: bool = False) -> BaiIndex:
    with fs.open_input(path) as f:
        data = f.read()
    if data[:4] != MAGIC:
        raise ValueError("not a BAI index")
    n_ref = struct.unpack_from("<i", data, 4)[0]
    off = 8
    refs: list[RefIndex] = []
    for _ in range(n_ref):
        r = RefIndex()
        n_bin = struct.unpack_from("<i", data, off)[0]
        off += 4
        for _ in range(n_bin):
            b, n_chunk = struct.unpack_from("<Ii", data, off)
            off += 8
            chunks = []
            for _ in range(n_chunk):
                cb, ce = struct.unpack_from("<QQ", data, off)
                chunks.append((cb, ce))
                off += 16
            if b == PSEUDO_BIN:
                if len(chunks) == 2:
                    r.ref_beg, r.ref_end = chunks[0]
                    r.n_mapped, r.n_unmapped = chunks[1]
            else:
                r.bins[b] = chunks
        n_intv = struct.unpack_from("<i", data, off)[0]
        off += 4
        r.linear = _decode_linear(list(struct.unpack_from(f"<{n_intv}Q", data, off)), fragment)
        off += 8 * n_intv
        refs.append(r)
    n_no_coor = struct.unpack_from("<Q", data, off)[0] if off + 8 <= len(data) else None
    return BaiIndex(refs, n_no_coor)


def _shift(voff: int, shift_bytes: int) -> int:
    return ((voff >> 16) + shift_bytes) << 16 | (voff & 0xFFFF)


def merge_bai(parts: list[BaiIndex], part_lengths: list[int], base_offset: int = 0) -> BaiIndex:
    """Merge per-part indexes for a concatenation of the parts.

    ``part_lengths[i]`` = compressed byte length of part i in the final
    file; ``base_offset`` = bytes preceding the first part (the header
    file). Mirrors IndexFileMerger.java:48-105 + BAMIndexMerger.
    """
    if not parts:
        return BaiIndex([], 0)
    n_ref = len(parts[0].refs)
    out = [RefIndex() for _ in range(n_ref)]
    n_no_coor = 0
    shift = base_offset
    for idx, plen in zip(parts, part_lengths):
        for ri, r in enumerate(idx.refs):
            o = out[ri]
            for b, chunks in r.bins.items():
                dst = o.bins.setdefault(b, [])
                for cb, ce in chunks:
                    cb, ce = _shift(cb, shift), _shift(ce, shift)
                    if dst and cb <= dst[-1][1]:
                        dst[-1] = (dst[-1][0], max(dst[-1][1], ce))
                    else:
                        dst.append((cb, ce))
            if r.ref_beg is not None:
                rb = _shift(r.ref_beg, shift)
                o.ref_beg = rb if o.ref_beg is None else min(o.ref_beg, rb)
            if r.ref_end is not None:
                re_ = _shift(r.ref_end, shift)
                o.ref_end = re_ if o.ref_end is None else max(o.ref_end, re_)
            o.n_mapped += r.n_mapped
            o.n_unmapped += r.n_unmapped
            if len(o.linear) < len(r.linear):
                o.linear.extend([-1] * (len(r.linear) - len(o.linear)))
            for w, vo in enumerate(r.linear):
                if vo < 0:  # window not covered by this part
                    continue
                vo = _shift(vo, shift)
                if o.linear[w] < 0 or vo < o.linear[w]:
                    o.linear[w] = vo
        n_no_coor += idx.n_no_coor or 0
        shift += plen
    return BaiIndex(out, n_no_coor)


def union_chunks(chunks) -> list[tuple[int, int]]:
    """Sorted union of (beg, end) virtual-offset chunks: overlapping and
    adjacent chunks coalesce, so the result is disjoint."""
    merged: list[tuple[int, int]] = []
    for cb, ce in sorted(chunks):
        if merged and cb <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], ce))
        else:
            merged.append((cb, ce))
    return merged


def chunks_for_interval(idx: BaiIndex, ref_id: int, start1: int, end1: int) -> list[tuple[int, int]]:
    """Virtual-offset chunks possibly containing records overlapping the
    1-based closed interval — the read-side file-span operation
    (AbstractBinarySamSource.java:117-137 via htsjdk BAMFileSpan).

    The linear index gives a lower bound: no record overlapping the
    interval starts before the entry of its first 16 kb window. That entry
    is itself a record start, so chunks are clipped to begin there, not
    only dropped when they end before it."""
    if ref_id < 0 or ref_id >= len(idx.refs):
        return []
    r = idx.refs[ref_id]
    beg0, end0 = start1 - 1, end1
    min_voff = 0
    if r.linear:
        w = min(beg0 >> LINEAR_SHIFT, len(r.linear) - 1)
        min_voff = max(r.linear[w], 0)  # -1/0 = uncovered, no lower bound
    out = []
    for b in _reg2bins(beg0, end0):
        for cb, ce in r.bins.get(b, ()):
            if ce > min_voff:
                out.append((max(cb, min_voff), ce))
    return union_chunks(out)


def record_start_voffs(idx: BaiIndex) -> list[int]:
    """Sorted record-start virtual offsets the index names: every chunk
    begin and every set linear-index entry. Split planning snaps byte
    positions onto these instead of guessing record boundaries."""
    import numpy as np

    begins = [cb for r in idx.refs for chunks in r.bins.values() for cb, _ce in chunks]
    linear = [v for r in idx.refs for v in r.linear]
    # int64 holds any voff of a file under 128 TiB; sort + dedupe in numpy
    # keeps a whole-genome index (~200k starts) to tens of milliseconds
    starts = np.unique(np.array(begins + linear, dtype=np.int64))
    return starts[starts > 0].tolist()


def last_indexed_voff(idx: BaiIndex) -> int:
    """Largest chunk-end virtual offset across all refs — everything after
    this can only be unplaced-unmapped tail records
    (startOfLastLinearBin analog, AbstractBinarySamSource.java:141-157)."""
    best = 0
    for r in idx.refs:
        if r.ref_end is not None:
            best = max(best, r.ref_end)
        for chunks in r.bins.values():
            for _cb, ce in chunks:
                best = max(best, ce)
    return best
