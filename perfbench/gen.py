"""Seeded, spec-level generators for the benchmark's genomics inputs.

Writes a coordinate-sorted BAM with a ``.bai`` (SAM spec §4.2, §5.2) and a
BGZF-compressed VCF (VCF 4.2, SAM spec §4.1) using only ``struct`` and
``zlib``. Nothing here imports ``disq_spark``: the program under test reads
bytes produced from the specifications, so a codec bug in the program cannot
cancel itself out through a shared encoder.

Every generator returns, next to the files, the records it wrote (as column
arrays) so that results can be checked against an oracle computed here.
"""

from __future__ import annotations

import os
import struct
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

EOF_BLOCK = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")
MAX_PAYLOAD = 0xFF00
PSEUDO_BIN = 37450
FLAG_UNMAPPED = 0x4

# BAM record names are unique per fragment; both mates share the name.
BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
NIBBLE = np.zeros(256, dtype=np.uint8)
NIBBLE[list(b"=ACMGRSVTWYHKDBN")] = np.arange(16, dtype=np.uint8)
QUAL_BINS = np.array([2, 12, 23, 37], dtype=np.uint8)  # binned Illumina qualities
QUAL_P = [0.03, 0.07, 0.2, 0.7]
CIGAR_OPS = {"M": 0, "I": 1, "D": 2, "N": 3, "S": 4, "H": 5, "P": 6, "=": 7, "X": 8}


# ---------------------------------------------------------------- BGZF


def bgzf_block(payload: bytes, level: int = 6) -> bytes:
    """One BGZF block (SAM spec §4.1): gzip member with the BC extra field."""
    co = zlib.compressobj(level, zlib.DEFLATED, -15)
    cdata = co.compress(payload) + co.flush()
    bsize = len(cdata) + 25  # BSIZE = total block size - 1
    head = struct.pack("<BBBBIBBHBBHH", 31, 139, 8, 4, 0, 0, 255, 6, 66, 67, 2, bsize)
    return head + cdata + struct.pack("<II", zlib.crc32(payload), len(payload))


def bgzf_compress(stream: bytes, first_block_end: int = 0):
    """Compress ``stream`` into BGZF blocks of at most MAX_PAYLOAD bytes.

    ``first_block_end`` forces a block boundary there (the header gets its
    own blocks, as samtools writes it). Returns ``(data, voff)`` where
    ``voff(u)`` maps an uncompressed offset to its virtual offset; an offset
    at a block boundary maps to the start of the following block.
    """
    cuts = list(range(0, first_block_end, MAX_PAYLOAD)) + list(
        range(first_block_end, len(stream), MAX_PAYLOAD)
    )
    ends = cuts[1:] + [len(stream)]
    # zlib releases the GIL, so blocks compress in parallel threads
    with ThreadPoolExecutor(max_workers=4) as pool:
        blocks = list(pool.map(lambda se: bgzf_block(stream[se[0] : se[1]]), zip(cuts, ends)))
    out = bytearray()
    u_starts, c_starts = [], []
    for u, blk in zip(cuts, blocks):
        u_starts.append(u)
        c_starts.append(len(out))
        out += blk
    eof_pos = len(out)
    out += EOF_BLOCK
    u_arr = np.asarray(u_starts, dtype=np.int64)
    c_arr = np.asarray(c_starts, dtype=np.int64)

    def voff(u):
        u = np.asarray(u, dtype=np.int64)
        i = np.searchsorted(u_arr, u, side="right") - 1
        v = (c_arr[i] << 16) | (u - u_arr[i])
        at_end = u >= len(stream)
        return np.where(at_end, eof_pos << 16, v)

    return bytes(out), voff


# ---------------------------------------------------------------- BAM


def reg2bin(beg: int, end: int) -> int:
    """SAM spec §5.3: bin of 0-based half-open [beg, end)."""
    end -= 1
    if beg >> 14 == end >> 14:
        return ((1 << 15) - 1) // 7 + (beg >> 14)
    if beg >> 17 == end >> 17:
        return ((1 << 12) - 1) // 7 + (beg >> 17)
    if beg >> 20 == end >> 20:
        return ((1 << 9) - 1) // 7 + (beg >> 20)
    if beg >> 23 == end >> 23:
        return ((1 << 6) - 1) // 7 + (beg >> 23)
    if beg >> 26 == end >> 26:
        return ((1 << 3) - 1) // 7 + (beg >> 26)
    return 0


@dataclass
class Reads:
    """The generator's records, in file order, as column arrays."""

    refs: list[tuple[str, int]]
    name: list[str]
    flags: np.ndarray
    ref_id: np.ndarray  # -1 = unplaced
    pos: np.ndarray  # 1-based start, 0 = unplaced
    end: np.ndarray  # 1-based inclusive end, 0 = unplaced
    mapq: np.ndarray
    cigar: list[str]
    mate_ref_id: np.ndarray
    mate_pos: np.ndarray  # 1-based, 0 = none
    tlen: np.ndarray
    seq: list[str]
    qual: list[str]  # phred+33
    tags: list[bytes]  # aux fields as BAM bytes (types Z and C only)
    voff: np.ndarray  # virtual offset of each record's first byte, set by encode_bam
    raw: tuple = field(default=(), repr=False)  # encode_bam's inputs: seq codes, quals, CIGARs

    def __len__(self) -> int:
        return len(self.name)

    def tag_map(self, i: int) -> dict[str, str]:
        """Record ``i``'s aux tags as {tag: "TYPE:value"}, integers as "i"."""
        out, b, off = {}, self.tags[i], 0
        while off < len(b):
            tag, typ = b[off : off + 2].decode(), b[off + 2 : off + 3]
            if typ == b"Z":
                z = b.index(0, off + 3)
                out[tag] = "Z:" + b[off + 3 : z].decode()
                off = z + 1
            else:
                out[tag] = f"i:{b[off + 3]}"
                off += 4
        return out


def _cigar_choices(rng, n, read_len):
    """(cigar string, ops, ref_len) per read: mostly full matches, some soft
    clips, insertions and deletions."""
    kinds = rng.choice(4, size=n, p=[0.8, 0.1, 0.05, 0.05])
    table = [
        (f"{read_len}M", [(read_len, "M")]),
        (f"5S{read_len - 5}M", [(5, "S"), (read_len - 5, "M")]),
        (f"70M2I{read_len - 72}M", [(70, "M"), (2, "I"), (read_len - 72, "M")]),
        (f"60M3D{read_len - 60}M", [(60, "M"), (3, "D"), (read_len - 60, "M")]),
    ]
    packed = []
    ref_lens = []
    for s, ops in table:
        packed.append(b"".join(struct.pack("<I", ln << 4 | CIGAR_OPS[op]) for ln, op in ops))
        ref_lens.append(sum(ln for ln, op in ops if op in "MDN=X"))
    return kinds, [t[0] for t in table], packed, np.asarray(ref_lens, dtype=np.int64)


def make_reads(seed: int, n_pairs: int, read_len: int = 150, unplaced_frac: float = 0.005):
    """Seeded paired reads over three contigs plus an unplaced-unmapped
    tail, coordinate-sorted. Returns a ``Reads`` without virtual offsets."""
    rng = np.random.default_rng(seed)
    refs = [("chr1", 6_000_000), ("chr2", 4_000_000), ("chr3", 2_000_000)]
    total = sum(ln for _n, ln in refs)
    n_unplaced_pairs = max(1, int(n_pairs * unplaced_frac))
    n_placed_pairs = n_pairs - n_unplaced_pairs

    # fragments: contig proportional to length, uniform start
    g = rng.integers(0, total - 2000, size=n_placed_pairs)
    bounds = np.cumsum([0] + [ln for _n, ln in refs])
    frag_ref = np.searchsorted(bounds, g, side="right") - 1
    frag_pos = g - bounds[frag_ref]  # 0-based
    frag_pos = np.minimum(frag_pos, np.asarray([ln for _n, ln in refs])[frag_ref] - 1200)
    insert = rng.integers(250, 600, size=n_placed_pairs)
    r1_rev = rng.random(n_placed_pairs) < 0.5
    dup = rng.random(n_placed_pairs) < 0.02

    kinds, cig_str, cig_packed, cig_ref_len = _cigar_choices(rng, 2 * n_placed_pairs, read_len)
    k1, k2 = kinds[:n_placed_pairs], kinds[n_placed_pairs:]
    pos1 = frag_pos
    pos2 = frag_pos + insert - cig_ref_len[k2]
    end1 = pos1 + cig_ref_len[k1]  # exclusive, 0-based
    end2 = pos2 + cig_ref_len[k2]
    f_dup = np.where(dup, 0x400, 0)
    flag1 = 0x1 | 0x2 | 0x40 | np.where(r1_rev, 0x10, 0x20) | f_dup
    flag2 = 0x1 | 0x2 | 0x80 | np.where(r1_rev, 0x20, 0x10) | f_dup
    tl = np.maximum(end2, end1) - pos1

    frag = np.arange(n_placed_pairs)
    p_ref = np.concatenate([frag_ref, frag_ref])
    p_pos = np.concatenate([pos1, pos2])
    p_end = np.concatenate([end1, end2])
    p_flag = np.concatenate([flag1, flag2])
    p_kind = np.concatenate([k1, k2])
    p_mpos = np.concatenate([pos2, pos1])
    p_tlen = np.concatenate([tl, -tl])
    p_frag = np.concatenate([frag, frag])
    order = np.lexsort((p_flag & 0x80, p_pos, p_ref))

    n_placed = 2 * n_placed_pairs
    n_un = 2 * n_unplaced_pairs
    n = n_placed + n_un
    flags = np.concatenate([p_flag[order], np.tile([0x1 | 0x4 | 0x8 | 0x40, 0x1 | 0x4 | 0x8 | 0x80], n_unplaced_pairs)])
    ref_id = np.concatenate([p_ref[order], np.full(n_un, -1)])
    pos0 = np.concatenate([p_pos[order], np.full(n_un, -1)])
    end0 = np.concatenate([p_end[order], np.full(n_un, 0)])
    kind = np.concatenate([p_kind[order], np.full(n_un, -1)])
    mate_ref = ref_id.copy()
    mate_pos0 = np.concatenate([p_mpos[order], np.full(n_un, -1)])
    tlen = np.concatenate([p_tlen[order], np.zeros(n_un, dtype=np.int64)])
    frag_id = np.concatenate([p_frag[order], n_placed_pairs + np.repeat(np.arange(n_unplaced_pairs), 2)])
    mapq = np.where(ref_id >= 0, rng.integers(0, 61, size=n), 0)
    nm = rng.integers(0, 4, size=n)
    xs = rng.integers(0, 120, size=n)
    rg = rng.integers(0, 2, size=n)

    seq_codes = BASES[rng.integers(0, 4, size=(n, read_len))]
    qual_raw = QUAL_BINS[rng.choice(4, size=(n, read_len), p=QUAL_P)]
    seq_bytes = seq_codes.tobytes()
    qual_bytes = (qual_raw + 33).tobytes()

    names = [f"S{seed}.{int(f)}" for f in frag_id.tolist()]
    seqs = [seq_bytes[i * read_len : (i + 1) * read_len].decode("ascii") for i in range(n)]
    quals = [qual_bytes[i * read_len : (i + 1) * read_len].decode("ascii") for i in range(n)]
    cigars, tags = [], []
    kind_l, nm_l, xs_l, rg_l, end_l, pos_l = (
        kind.tolist(), nm.tolist(), xs.tolist(), rg.tolist(), end0.tolist(), pos0.tolist()
    )
    for i in range(n):
        if kind_l[i] >= 0:
            cigars.append(cig_str[kind_l[i]])
            ref_len = end_l[i] - pos_l[i]
            k = nm_l[i]
            md = b"%d" % ref_len if k == 0 else b"%dA%d" % (ref_len // 2, ref_len - ref_len // 2 - 1)
            # aux tags as BAM bytes: RG:Z, NM:C, MD:Z, AS:C, XS:C
            tags.append(b"RGZrg%d\0NMC%cMDZ%s\0ASC%cXSC%c" % (rg_l[i], k, md, read_len - 5 * k, xs_l[i]))
        else:
            cigars.append(None)
            tags.append(b"RGZrg%d\0" % rg_l[i])

    placed = ref_id >= 0
    return Reads(
        refs=refs,
        name=names,
        flags=flags.astype(np.int64),
        ref_id=ref_id.astype(np.int64),
        pos=np.where(placed, pos0 + 1, 0).astype(np.int64),
        end=np.where(placed, end0, 0).astype(np.int64),
        mapq=mapq.astype(np.int64),
        cigar=cigars,
        mate_ref_id=mate_ref.astype(np.int64),
        mate_pos=np.where(placed, mate_pos0 + 1, 0).astype(np.int64),
        tlen=tlen.astype(np.int64),
        seq=seqs,
        qual=quals,
        tags=tags,
        voff=np.zeros(n, dtype=np.int64),
        raw=(seq_codes, qual_raw, kind, cig_packed),
    )


def encode_bam(reads: Reads, sort_order: str = "coordinate") -> tuple[bytes, bytes, np.ndarray]:
    """(BAM bytes, BAI bytes, per-record start voffs) for ``reads``."""
    text = (
        f"@HD\tVN:1.6\tSO:{sort_order}\n"
        + "".join(f"@SQ\tSN:{nm}\tLN:{ln}\n" for nm, ln in reads.refs)
        + "@RG\tID:rg0\tSM:s0\tLB:lib0\n@RG\tID:rg1\tSM:s0\tLB:lib1\n"
        + "@PG\tID:perfbench\tPN:perfbench.gen\n"
    ).encode()
    head = b"BAM\1" + struct.pack("<i", len(text)) + text + struct.pack("<i", len(reads.refs))
    for nm, ln in reads.refs:
        head += struct.pack("<i", len(nm) + 1) + nm.encode() + b"\0" + struct.pack("<i", ln)

    seq_codes, qual_raw, kind, cig_packed = reads.raw
    nib = NIBBLE[seq_codes]
    packed_seq = ((nib[:, 0::2] << 4) | nib[:, 1::2]).astype(np.uint8)
    read_len = seq_codes.shape[1]
    seq_b = packed_seq.tobytes()
    qual_b = qual_raw.tobytes()
    sl = (read_len + 1) // 2
    core = struct.Struct("<iiBBHHHiiii")

    parts = [head]
    u = len(head)
    rec_u = np.zeros(len(reads) + 1, dtype=np.int64)
    ref_l, pos_l, end_l = reads.ref_id.tolist(), reads.pos.tolist(), reads.end.tolist()
    flag_l, mapq_l, kind_l = reads.flags.tolist(), reads.mapq.tolist(), kind.tolist()
    mref_l, mpos_l, tlen_l = reads.mate_ref_id.tolist(), reads.mate_pos.tolist(), reads.tlen.tolist()
    for i in range(len(reads)):
        nm = reads.name[i].encode() + b"\0"
        cig = cig_packed[kind_l[i]] if kind_l[i] >= 0 else b""
        p0 = pos_l[i] - 1
        b = reg2bin(p0, end_l[i]) if ref_l[i] >= 0 else 4680
        body = (
            core.pack(
                ref_l[i], p0, len(nm), mapq_l[i], b, len(cig) // 4, flag_l[i], read_len,
                mref_l[i], mpos_l[i] - 1, tlen_l[i],
            )
            + nm + cig + seq_b[i * sl : (i + 1) * sl] + qual_b[i * read_len : (i + 1) * read_len]
            + reads.tags[i]
        )
        rec = struct.pack("<i", len(body)) + body
        rec_u[i] = u
        parts.append(rec)
        u += len(rec)
    rec_u[len(reads)] = u
    stream = b"".join(parts)
    data, voff = bgzf_compress(stream, first_block_end=len(head))
    v = voff(rec_u)
    reads.voff = v[:-1]
    return data, encode_bai(reads, v), reads.voff


def encode_bai(reads: Reads, v: np.ndarray) -> bytes:
    """SAM spec §5.2 index: bins with merged adjacent chunks, 16 kb linear
    index (holes filled with the previous window), pseudo-bin metadata and
    the unplaced count."""
    n_ref = len(reads.refs)
    bins = [dict() for _ in range(n_ref)]
    linear = [dict() for _ in range(n_ref)]
    meta = [[None, None, 0, 0] for _ in range(n_ref)]
    ref_l, pos_l, end_l, flag_l = reads.ref_id.tolist(), reads.pos.tolist(), reads.end.tolist(), reads.flags.tolist()
    v_l = v.tolist()
    n_no_coor = 0
    for i in range(len(reads)):
        r = ref_l[i]
        if r < 0:
            n_no_coor += 1
            continue
        beg, end = pos_l[i] - 1, end_l[i]
        vs, ve = v_l[i], v_l[i + 1]
        chunks = bins[r].setdefault(reg2bin(beg, end), [])
        if chunks and chunks[-1][1] == vs:
            chunks[-1][1] = ve
        else:
            chunks.append([vs, ve])
        lin = linear[r]
        for w in range(beg >> 14, ((end - 1) >> 14) + 1):
            lin.setdefault(w, vs)
        m = meta[r]
        m[0] = vs if m[0] is None else m[0]
        m[1] = ve
        m[2 if flag_l[i] & FLAG_UNMAPPED == 0 else 3] += 1
    out = [b"BAI\1", struct.pack("<i", n_ref)]
    for r in range(n_ref):
        has = meta[r][0] is not None
        out.append(struct.pack("<i", len(bins[r]) + (1 if has else 0)))
        for b in sorted(bins[r]):
            out.append(struct.pack("<Ii", b, len(bins[r][b])))
            out.extend(struct.pack("<QQ", cb, ce) for cb, ce in bins[r][b])
        if has:
            out.append(struct.pack("<IiQQQQ", PSEUDO_BIN, 2, meta[r][0], meta[r][1], meta[r][2], meta[r][3]))
        n_intv = (max(linear[r]) + 1) if linear[r] else 0
        vals, prev = [], 0
        for w in range(n_intv):
            prev = linear[r].get(w, prev)
            vals.append(prev)
        out.append(struct.pack(f"<i{n_intv}Q", n_intv, *vals))
    out.append(struct.pack("<Q", n_no_coor))
    return b"".join(out)


# ---------------------------------------------------------------- VCF

VCF_SAMPLES = [f"S{i}" for i in range(8)]


@dataclass
class Variants:
    refs: list[tuple[str, int]]
    contig: list[str]
    pos: np.ndarray
    end: np.ndarray
    ref: list[str]
    alts: list[str]  # comma-joined
    gts: list[str]  # "|"-joined GT values of the samples, in sample order

    def __len__(self) -> int:
        return len(self.contig)


def make_vcf(seed: int, n_sites: int) -> tuple[bytes, Variants]:
    """Seeded BGZF VCF text with 8 samples (GT:DP:GQ), sorted by contig and
    position; SNVs plus some short deletions and multi-allelic sites."""
    rng = np.random.default_rng(seed + 7919)
    refs = [("chr1", 6_000_000), ("chr2", 4_000_000), ("chr3", 2_000_000)]
    total = sum(ln for _n, ln in refs)
    counts = np.floor(n_sites * np.asarray([ln for _n, ln in refs]) / total).astype(int)
    counts[0] += n_sites - counts.sum()
    contig, pos = [], []
    for (nm, ln), c in zip(refs, counts):
        p = np.sort(rng.choice(np.arange(1, ln - 10), size=c, replace=False))
        contig.extend([nm] * c)
        pos.append(p)
    pos = np.concatenate(pos)
    n = len(pos)
    kind = rng.choice(3, size=n, p=[0.85, 0.1, 0.05])  # snv, deletion, multi-allelic
    b = BASES[rng.integers(0, 4, size=(n, 4))].tobytes().decode()
    gt_codes = rng.choice(4, size=(n, len(VCF_SAMPLES)), p=[0.5, 0.3, 0.15, 0.05])
    dp = rng.integers(5, 60, size=(n, len(VCF_SAMPLES)))
    gq = rng.integers(10, 99, size=(n, len(VCF_SAMPLES)))
    qual = rng.integers(20, 2000, size=n) / 10
    site_dp = dp.sum(axis=1)
    gt_text = ("0/0", "0/1", "1/1", "./.")
    lines, refs_s, alts_s, gts_s = [], [], [], []
    ends = np.zeros(n, dtype=np.int64)
    pos_l, kind_l, q_l, sdp_l = pos.tolist(), kind.tolist(), qual.tolist(), site_dp.tolist()
    gtc, dpl, gql = gt_codes.tolist(), dp.tolist(), gq.tolist()
    for i in range(n):
        r0, a0, a1 = b[4 * i], b[4 * i + 1], b[4 * i + 2]
        if a0 == r0:
            a0 = "ACGT"[("ACGT".index(r0) + 1) % 4]
        if kind_l[i] == 1:
            ref, alt = r0 + a1 + a0, r0
        elif kind_l[i] == 2:
            ref, alt = r0, a0 + "," + ("ACGT"[("ACGT".index(r0) + 2) % 4])
        else:
            ref, alt = r0, a0
        gts = [gt_text[c] for c in gtc[i]]
        samples = "\t".join(f"{g}:{d}:{q}" for g, d, q in zip(gts, dpl[i], gql[i]))
        ac = sum(g.count("1") for g in gts)
        af = ac / (2 * len(gts))
        filt = "PASS" if q_l[i] >= 30 else "q30"
        lines.append(
            f"{contig[i]}\t{pos_l[i]}\t.\t{ref}\t{alt}\t{q_l[i]}\t{filt}\tDP={sdp_l[i]};AF={af:.3f}\tGT:DP:GQ\t{samples}\n"
        )
        refs_s.append(ref)
        alts_s.append(alt)
        gts_s.append("|".join(gts))
        ends[i] = pos_l[i] + len(ref) - 1
    header = (
        "##fileformat=VCFv4.2\n"
        + "".join(f"##contig=<ID={nm},length={ln}>\n" for nm, ln in refs)
        + '##INFO=<ID=DP,Number=1,Type=Integer,Description="Total depth">\n'
        + '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele frequency">\n'
        + '##FILTER=<ID=q30,Description="Quality below 30">\n'
        + '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">\n'
        + '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read depth">\n'
        + '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype quality">\n'
        + "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t" + "\t".join(VCF_SAMPLES) + "\n"
    ).encode()
    body = "".join(lines).encode()
    data, _voff = bgzf_compress(header + body, first_block_end=len(header))
    return data, Variants(refs, contig, pos.astype(np.int64), ends, refs_s, alts_s, gts_s)


# ---------------------------------------------------------------- oracles


def crc32_sum(strings) -> int:
    """Sum of CRC-32 over UTF-8 strings: Spark's ``sum(crc32(col))``."""
    return sum(zlib.crc32(s.encode()) for s in strings)


def reads_checksum(reads: Reads, mask: np.ndarray | None = None) -> dict:
    """count / sum(start) / sum(flags) / sum(crc32(seq)) over the records
    (``start`` of unplaced records is NULL, so it adds nothing)."""
    idx = np.arange(len(reads)) if mask is None else np.flatnonzero(mask)
    return {
        "n": int(len(idx)),
        "start": int(reads.pos[idx].sum()),
        "flags": int(reads.flags[idx].sum()),
        "seq": crc32_sum(reads.seq[i] for i in idx.tolist()),
    }


def overlap_mask(reads: Reads, intervals, unplaced: bool = False) -> np.ndarray:
    """Records overlapping any 1-based closed interval (plus the
    unplaced-unmapped tail when ``unplaced``)."""
    names = {nm: i for i, (nm, _l) in enumerate(reads.refs)}
    m = np.zeros(len(reads), dtype=bool)
    for contig, s, e in intervals:
        rid = names.get(contig, -2)
        m |= (reads.ref_id == rid) & (reads.pos <= e) & (reads.end >= s)
    if unplaced:
        m |= (reads.ref_id < 0) & ((reads.flags & FLAG_UNMAPPED) != 0)
    return m


def variants_checksum(v: Variants, mask: np.ndarray | None = None) -> dict:
    idx = np.arange(len(v)) if mask is None else np.flatnonzero(mask)
    il = idx.tolist()
    return {
        "n": int(len(idx)),
        "start": int(v.pos[idx].sum()),
        "alts": crc32_sum(v.alts[i] for i in il),
        "gts": crc32_sum(v.gts[i] for i in il),
    }


def variant_overlap_mask(v: Variants, intervals) -> np.ndarray:
    contig = np.asarray(v.contig)
    m = np.zeros(len(v), dtype=bool)
    for c, s, e in intervals:
        m |= (contig == c) & (v.pos <= e) & (v.end >= s)
    return m


def write_bam_inputs(out_dir: str, seed: int, n_pairs: int) -> tuple[str, Reads]:
    """Generate ``reads.bam`` + ``reads.bam.bai`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    reads = make_reads(seed, n_pairs)
    bam, bai, _v = encode_bam(reads)
    path = os.path.join(out_dir, "reads.bam")
    with open(path + ".bai", "wb") as f:
        f.write(bai)
    with open(path, "wb") as f:
        f.write(bam)
    return path, reads


def write_vcf_input(out_dir: str, seed: int, n_sites: int) -> tuple[str, Variants]:
    os.makedirs(out_dir, exist_ok=True)
    data, variants = make_vcf(seed, n_sites)
    path = os.path.join(out_dir, "sites.vcf.gz")
    with open(path, "wb") as f:
        f.write(data)
    return path, variants
