"""Spec-level readers that check the program's outputs without its code.

A written BAM or VCF is decoded here from the SAM/VCF specifications
(``struct`` + ``zlib`` only), its checksum is compared with the generator's,
its last 28 bytes must be the BGZF EOF block, and its ``.bai``/``.tbi`` must
cover every record that overlaps a few spot-check intervals. Reading the
program's output with the program's own reader could let a matching pair of
bugs pass.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from gen import EOF_BLOCK, PSEUDO_BIN, crc32_sum

SEQ_ALPHABET = np.frombuffer(b"=ACMGRSVTWYHKDBN", dtype=np.uint8)


def inflate_bgzf(data: bytes) -> tuple[bytes, list[int], list[int]]:
    """(uncompressed bytes, block compressed starts, block uncompressed
    starts) of a whole BGZF file."""
    out, c_starts, u_starts = [], [], []
    off = u = 0
    while off < len(data):
        if data[off : off + 4] != b"\x1f\x8b\x08\x04":
            raise ValueError(f"no BGZF block at byte {off}")
        xlen = struct.unpack_from("<H", data, off + 10)[0]
        bsize = None
        x = off + 12
        while x < off + 12 + xlen:
            si, slen = data[x : x + 2], struct.unpack_from("<H", data, x + 2)[0]
            if si == b"BC":
                bsize = struct.unpack_from("<H", data, x + 4)[0] + 1
            x += 4 + slen
        if bsize is None:
            raise ValueError(f"BGZF block at {off} has no BC field")
        payload = zlib.decompress(data[off + 12 + xlen : off + bsize - 8], -15)
        if zlib.crc32(payload) != struct.unpack_from("<I", data, off + bsize - 8)[0]:
            raise ValueError(f"CRC mismatch in BGZF block at {off}")
        c_starts.append(off)
        u_starts.append(u)
        out.append(payload)
        u += len(payload)
        off += bsize
    return b"".join(out), c_starts, u_starts


def _voffs(u_offs: np.ndarray, c_starts, u_starts) -> np.ndarray:
    u_arr = np.asarray(u_starts, dtype=np.int64)
    c_arr = np.asarray(c_starts, dtype=np.int64)
    i = np.searchsorted(u_arr, u_offs, side="right") - 1
    return (c_arr[i] << 16) | (u_offs - u_arr[i])


def _reg2bins(beg: int, end: int) -> list[int]:
    end -= 1
    out = [0]
    for shift, base in ((26, 1), (23, 9), (20, 73), (17, 585), (14, 4681)):
        out.extend(range(base + (beg >> shift), base + (end >> shift) + 1))
    return out


def _parse_bins(data: bytes, off: int, n_ref: int):
    """Binning-index body shared by .bai and .tbi: per ref ({bin: chunks},
    linear offsets); returns (refs, offset after them)."""
    refs = []
    for _ in range(n_ref):
        (n_bin,) = struct.unpack_from("<i", data, off)
        off += 4
        bins = {}
        for _ in range(n_bin):
            b, n_chunk = struct.unpack_from("<Ii", data, off)
            off += 8
            ch = struct.unpack_from(f"<{2 * n_chunk}Q", data, off)
            off += 16 * n_chunk
            if b != PSEUDO_BIN:
                bins[b] = list(zip(ch[0::2], ch[1::2]))
        (n_intv,) = struct.unpack_from("<i", data, off)
        off += 4
        linear = struct.unpack_from(f"<{n_intv}Q", data, off)
        off += 8 * n_intv
        refs.append((bins, linear))
    return refs, off


def _index_misses(ref_index, beg0: int, end0: int, rec_voffs) -> int:
    """Records (by start voff) the index fails to cover for 0-based [beg0, end0)."""
    bins, linear = ref_index
    min_v = linear[min(beg0 >> 14, len(linear) - 1)] if linear else 0
    chunks = [c for b in _reg2bins(beg0, end0) for c in bins.get(b, ()) if c[1] > min_v]
    return sum(1 for v in rec_voffs if not any(cb <= v < ce for cb, ce in chunks))


def read_bam_file(path: str) -> dict:
    """Decode a BAM into the columns the checks need."""
    with open(path, "rb") as f:
        raw = f.read()
    data, c_starts, u_starts = inflate_bgzf(raw)
    if data[:4] != b"BAM\1":
        raise ValueError("not a BAM")
    (l_text,) = struct.unpack_from("<i", data, 4)
    off = 8 + l_text
    (n_ref,) = struct.unpack_from("<i", data, off)
    off += 4
    names = []
    for _ in range(n_ref):
        (l_name,) = struct.unpack_from("<i", data, off)
        names.append(data[off + 4 : off + 3 + l_name].decode())
        off += 8 + l_name
    offs = []
    unpack = struct.unpack_from
    while off < len(data):
        offs.append(off)
        off += 4 + unpack("<i", data, off)[0]
    o = np.asarray(offs, dtype=np.int64)
    u8 = np.frombuffer(data, dtype=np.uint8)

    def field(rel, dtype):
        width = np.dtype(dtype).itemsize
        b = u8[(o + rel)[:, None] + np.arange(width)]
        return b.copy().view(dtype).ravel().astype(np.int64)

    ref_id = field(4, "<i4")
    pos = field(8, "<i4")
    l_name = field(12, "<u1")
    mapq = field(13, "<u1")
    n_cig = field(16, "<u2")
    flags = field(18, "<u2")
    l_seq = field(20, "<i4")
    n = len(o)

    def gather(starts, lengths):
        """Flat indexes of ``lengths[i]`` consecutive bytes from each start."""
        grp = np.cumsum(lengths) - lengths
        rec = np.repeat(np.arange(n), lengths)
        return rec, starts[rec] + np.arange(int(lengths.sum())) - grp[rec]

    # reference span from the CIGAR (ops M, D, N, =, X consume the reference)
    cig_start = o + 36 + l_name
    rec, at = gather(cig_start, 4 * n_cig)
    ops = u8[at].reshape(-1, 4).copy().view("<u4").ravel().astype(np.int64)
    consume = np.isin(ops & 15, (0, 2, 3, 7, 8))
    ref_len = np.bincount(rec[::4], weights=(ops >> 4) * consume, minlength=n).astype(np.int64)
    # sequence: 4-bit codes, two bases per byte; CRC-32 per record
    nb = (l_seq + 1) // 2
    _rec, at = gather(cig_start + 4 * n_cig, nb)
    packed = u8[at]
    bases = np.empty(2 * len(packed), dtype=np.uint8)
    bases[0::2] = SEQ_ALPHABET[packed >> 4]
    bases[1::2] = SEQ_ALPHABET[packed & 15]
    buf = bases.tobytes()
    first = (2 * (np.cumsum(nb) - nb)).tolist()
    seq_crc = sum(zlib.crc32(buf[a : a + ls]) for a, ls in zip(first, l_seq.tolist()))
    pos1 = np.where(pos >= 0, pos + 1, 0)
    return {
        "raw_tail": raw[-28:],
        "names": names,
        "ref_id": ref_id,
        "pos1": pos1,
        "end1": np.where(pos >= 0, pos1 + np.maximum(ref_len, 1) - 1, 0),
        "flags": flags,
        "mapq": mapq,
        "seq_crc": seq_crc,
        "voff": _voffs(o, c_starts, u_starts),
    }


def check_bam_output(path: str, expect: dict, spots) -> list[str]:
    """Problems found in a written BAM + .bai: checksum against ``expect``
    (see ``gen.reads_checksum``), EOF block, and index coverage of every
    record overlapping the ``spots`` intervals."""
    errs = []
    b = read_bam_file(path)
    got = {
        "n": int(len(b["flags"])),
        "start": int(b["pos1"].sum()),
        "flags": int(b["flags"].sum()),
        "seq": int(b["seq_crc"]),
    }
    if got != expect:
        errs.append(f"read-back checksum {got} != {expect}")
        return errs
    if b["raw_tail"] != EOF_BLOCK:
        errs.append("output does not end with the BGZF EOF block")
    with open(path + ".bai", "rb") as f:
        bai = f.read()
    if bai[:4] != b"BAI\1":
        return errs + ["bad .bai magic"]
    refs, _ = _parse_bins(bai, 8, struct.unpack_from("<i", bai, 4)[0])
    names = {n: i for i, n in enumerate(b["names"])}
    for contig, s, e in spots:
        rid = names[contig]
        m = (b["ref_id"] == rid) & (b["pos1"] <= e) & (b["end1"] >= s) & (b["pos1"] > 0)
        miss = _index_misses(refs[rid], s - 1, e, b["voff"][m].tolist())
        if miss:
            errs.append(f".bai misses {miss} of {int(m.sum())} records in {contig}:{s}-{e}")
    return errs


def read_vcf_file(path: str) -> dict:
    with open(path, "rb") as f:
        raw = f.read()
    data, c_starts, u_starts = inflate_bgzf(raw)
    starts, lines = [], []
    off = 0
    for line in data.split(b"\n"):
        if line and not line.startswith(b"#"):
            starts.append(off)
            lines.append(line.decode())
        off += len(line) + 1
    contig, pos, end, alts, gts = [], [], [], [], []
    for ln in lines:
        f = ln.split("\t")
        contig.append(f[0])
        p = int(f[1])
        pos.append(p)
        end.append(p + len(f[3]) - 1)
        alts.append(f[4])
        gts.append("|".join(s.split(":", 1)[0] for s in f[9:]))
    return {
        "raw_tail": raw[-28:],
        "contig": np.asarray(contig),
        "pos": np.asarray(pos, dtype=np.int64),
        "end": np.asarray(end, dtype=np.int64),
        "alts": alts,
        "gts": gts,
        "voff": _voffs(np.asarray(starts, dtype=np.int64), c_starts, u_starts),
    }


def check_vcf_output(path: str, expect: dict, spots) -> list[str]:
    """Problems found in a written BGZF VCF + .tbi (see ``check_bam_output``)."""
    errs = []
    v = read_vcf_file(path)
    got = {
        "n": int(len(v["pos"])),
        "start": int(v["pos"].sum()),
        "alts": crc32_sum(v["alts"]),
        "gts": crc32_sum(v["gts"]),
    }
    if got != expect:
        return [f"read-back checksum {got} != {expect}"]
    if v["raw_tail"] != EOF_BLOCK:
        errs.append("output does not end with the BGZF EOF block")
    with open(path + ".tbi", "rb") as f:
        tbi, _c, _u = inflate_bgzf(f.read())
    if tbi[:4] != b"TBI\1":
        return errs + ["bad .tbi magic"]
    n_ref = struct.unpack_from("<i", tbi, 4)[0]
    l_nm = struct.unpack_from("<i", tbi, 32)[0]
    names = [n.decode() for n in tbi[36 : 36 + l_nm].split(b"\0") if n]
    refs, _ = _parse_bins(tbi, 36 + l_nm, n_ref)
    for contig, s, e in spots:
        m = (v["contig"] == contig) & (v["pos"] <= e) & (v["end"] >= s)
        miss = _index_misses(refs[names.index(contig)], s - 1, e, v["voff"][m].tolist())
        if miss:
            errs.append(f".tbi misses {miss} of {int(m.sum())} records in {contig}:{s}-{e}")
    return errs
