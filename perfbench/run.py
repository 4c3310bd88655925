"""Genomics I/O benchmark for disq_spark: full scans, column-pruned scans,
index-pruned region queries and single-file writes with merged indexes,
through the public functional API (``read_bam``/``write_bam``,
``read_vcf``/``write_vcf``).

Run from the root of a checkout::

    python3 perfbench/run.py --workload bam_io --seed 1 --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):

* ``bam_io``: a coordinate-sorted BAM with a ``.bai`` and no ``.sbi``. Each
  cycle runs a full parsed scan, a column-pruned flagstat, a single-file
  ``write_bam(..., write_bai=True)`` of a persisted reads frame, and a few
  ``.bai``-pruned interval queries;
* ``vcf_io``: a BGZF VCF. Each cycle runs a full scan, a sites-only scan, a
  single-file ``write_vcf(..., write_tbi=True)`` of a persisted variants frame
  and a few ``.tbi``-pruned interval queries on the file just written.

Inputs come from ``perfbench/gen.py`` (seeded, spec-level, no disq_spark code)
and are cached per seed under ``perfbench/.work``. Every timed operation's
result is checked against the generator's oracle; writes are read back by
``perfbench/verify.py``. Progress goes to stderr; the last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import verify  # noqa: E402

BAM_PAIRS = 50_000  # 100k reads
VCF_SITES = 15_000  # x 8 samples
TINY_PAIRS = 300  # decode self-check inputs
TINY_SITES = 300
MIN_SAMPLES = 3  # measured operations of each kind, at the least
# interval queries per cycle; region_queries makes them in blocks of six, so a
# vcf_io run, and a bam_io run of three cycles, has whole blocks
BAM_REGIONS_PER_CYCLE = 4
VCF_REGIONS_PER_CYCLE = 6
INPUT_CACHE_MAX = 24  # input directories kept between runs: ten seeds, two sizes each
KINDS = ("scan", "pruned", "write", "region")  # timed operation kinds

END_TO_END = {
    "setup_s": "s",
    "scan_rec_per_s": "rec/s",
    "pruned_scan_rec_per_s": "rec/s",
    "write_rec_per_s": "rec/s",
    "out_bytes_per_rec": "B/rec",
    "region_p50_s": "s",
    "py_peak_rss_mb": "MB",
}
SPARK_STATS = {
    "jobs_per_op": "count",
    "stages_per_op": "count",
    "tasks_per_op": "count",
    "stage_union_s": "s",
    "task_sum_s": "s",
    "driver_gap_s": "s",
    "task_skew": "ratio",
}
# wrapped driver-side function (layers.DRIVER_FUNCS name) -> metric
SPAN_METRICS = {
    "sources.bam_source.read_bam": "sources.bam.read_bam_s",
    "sources.bam_source.plan_bam_chunks": "sources.bam.plan_bam_chunks_s",
    "formats.bai.read_bai": "formats.bai.read_bai_s",
    "functions.intervals.filter_intervals": "functions.intervals.filter_intervals_s",
    "sinks.bam.finalize_single": "sinks.bam.finalize_single_s",
    "sinks.merge.concat_parts": "sinks.merge.concat_parts_s",
    "formats.bai.merge_bai": "formats.bai.merge_bai_s",
    "formats.sbi.merge_sbi": "formats.sbi.merge_sbi_s",
    "sources.variants.read_vcf": "sources.vcf.read_vcf_s",
    "formats.tabix.read_tbi": "formats.tabix.read_tbi_s",
    "sinks.variants.finalize_single": "sinks.variants.finalize_single_s",
    "formats.tabix.merge_tbi": "formats.tabix.merge_tbi_s",
}
PER_LAYER = {
    "host.canary_s": "s",
    "session.get_session_s": "s",
    "session.first_python_job_s": "s",
    "formats.bgzf.inflate_ns_per_rec": "ns/rec",
    "formats.bam.decode_batch_ns_per_rec": "ns/rec",
    "formats.bam.decode_batch_pruned_ns_per_rec": "ns/rec",
    "sources.bam.offset_walk_ns_per_rec": "ns/rec",
    "boundary.pandas_ns_per_rec": "ns/rec",
    "boundary.arrow_ns_per_rec": "ns/rec",
    "sources.datasource.bam_scan_ns_per_rec": "ns/rec",
    "sources.bam.partitions": "count",
    "sources.bam.rec_decoded_per_rec_returned": "ratio",
    "formats.bam.encode_record_ns_per_rec": "ns/rec",
    "formats.bgzf.deflate_ns_per_rec": "ns/rec",
    "sinks.bam.encode_part_ns_per_rec": "ns/rec",
    "sinks.bytes_written_per_out_byte": "ratio",
    "sources.vcf.range_lines_ns_per_rec": "ns/rec",
    "formats.vcf.parse_vcf_lines_ns_per_rec": "ns/rec",
    "formats.vcf.format_vcf_batch_ns_per_rec": "ns/rec",
    **{m: "s" for m in SPAN_METRICS.values()},
    **{
        f"self.{layer}_s_per_op": "s"
        for layer in ("sources", "formats", "functions", "sinks", "spark", "driver")
    },
    "trace.overhead_s": "s",
    **{f"spark.{kind}.{stat}": unit for kind in KINDS for stat, unit in SPARK_STATS.items()},
}

T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- processes


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def python_workers(jvm_pid: int) -> list[int]:
    """Python processes under the JVM: the worker daemon and its workers."""
    seen, todo, out = set(), [jvm_pid], []
    while todo:
        for c in _children(todo.pop()):
            if c in seen:
                continue
            seen.add(c)
            todo.append(c)
            try:
                with open(f"/proc/{c}/cmdline", "rb") as f:
                    if b"python" in f.read().split(b"\0")[0]:
                        out.append(c)
            except OSError:
                pass
    return out


# ---------------------------------------------------------------- harness


class Bench:
    """One benchmark run: the session, the timed operations and their checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.tracer = None
        self.ops: list[dict] = []  # id, kind, wall, n, ok, cycle (-1 = warm-up)
        self.errors: list[str] = []
        self.peak_rss_kb = 0
        self.setup_s = (0.0, 0.0, 0.0)  # total, get_session, first jobs

    # -- session
    def conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.compress": "false",
                }
            )
        return conf

    def setup(self) -> None:
        """One cold set-up, as a fresh process pays it: get_session (which
        launches the JVM) + first JVM job + first Python-worker job."""
        from disq_spark import session

        t0 = time.perf_counter()
        self.spark = session.get_session(app_name="perfbench", extra_conf=self.conf())
        t1 = time.perf_counter()
        self.spark.range(4).count()
        self.spark.range(4).mapInPandas(lambda it: it, "id long").count()
        t2 = time.perf_counter()
        self.setup_s = (t2 - t0, t1 - t0, t2 - t1)
        self.sample_rss()
        log("setup: {:.3f} s (get_session {:.3f} s, first jobs {:.3f} s)".format(*self.setup_s))

    def sample_rss(self) -> None:
        from pyspark import SparkContext

        kb = _status_kb(os.getpid(), "VmHWM")
        kb += sum(_status_kb(p, "VmHWM") for p in python_workers(SparkContext._gateway.proc.pid))
        self.peak_rss_kb = max(self.peak_rss_kb, kb)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()  # the JVM exits on EOF from its launcher
            proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- operations
    def op(self, kind: str, n: int, fn, check, cycle: int):
        """Time ``fn()`` (which must consume its result), then check it. An
        exception or a failed check counts the operation as failed. An
        operation of cycle -1 is a warm-up: checked, not measured."""
        kind = kind if cycle >= 0 else f"warmup.{kind}"
        op_id = f"{kind}-{len(self.ops)}"
        sc = self.spark.sparkContext
        traced = self.tracer is not None and cycle >= 0
        if traced:
            self.tracer.begin_op(op_id, kind)
            sc.setJobGroup(op_id, kind)
        ok, res = True, None
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception:  # an operation failure is a measured outcome
            ok = False
            self.errors.append(f"{op_id}: {traceback.format_exc()}")
        wall = time.perf_counter() - t0
        if traced:
            self.tracer.end_op(wall)
            sc.setJobGroup("untracked", "untracked")
        if ok:
            try:
                problems = check(res)
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                ok = False
                self.errors.append(f"{op_id}: " + "; ".join(problems))
        self.ops.append({"id": op_id, "kind": kind, "wall": wall, "n": n, "ok": ok, "cycle": cycle})
        log(f"{op_id} {wall:.3f} s {'ok' if ok else 'FAILED'}")
        self.sample_rss()
        return res

    def window(self, warmup, cycle) -> None:
        """Warm-up (checked, left out of the metrics): ``warmup()``, then one
        operation of each kind on the full input and a second interval query,
        because the first uses of an operation compile JVM code and import
        modules in the Python workers, and run slower. Then whole cycles of
        operations: ``cycle(i)`` returns the cycle's operations as calls, one
        of each kind and then the rest of its interval queries. The window
        ends after the cycle in which ``--seconds`` have passed, if every kind
        has MIN_SAMPLES measurements."""
        warmup()
        for step in cycle(-1)[: len(KINDS) + 1]:
            step()
        t_end = time.perf_counter() + self.args.seconds
        i = 0
        while time.perf_counter() < t_end or any(
            len(self.measured(k)) < MIN_SAMPLES for k in KINDS
        ):
            for step in cycle(i):
                step()
            i += 1

    def measured(self, kind: str) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind and o["cycle"] >= 0]

    def rate(self, kind: str) -> float:
        """Records per second of the median operation of ``kind``."""
        ops = self.measured(kind)
        return statistics.median(o["n"] for o in ops) / statistics.median(o["wall"] for o in ops)


# ---------------------------------------------------------------- inputs


def prune_inputs(work: str) -> None:
    """Keep only the most recently used cached inputs."""
    root = os.path.join(work, "inputs")
    if not os.path.isdir(root):
        return
    dirs = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
    for d in dirs[:-INPUT_CACHE_MAX]:
        shutil.rmtree(d, ignore_errors=True)


def bam_input(work: str, seed: int, n_pairs: int):
    """(path, generator records) of the seeded BAM + .bai; the files and the
    records (the oracle, with their virtual offsets) are cached per seed and
    size."""
    d = os.path.join(work, "inputs", f"bam-seed{seed}-pairs{n_pairs}")
    path = os.path.join(d, "reads.bam")
    if os.path.exists(path + ".done"):
        os.utime(d)
        with open(os.path.join(d, "reads.pkl"), "rb") as f:
            return path, pickle.load(f)
    path, reads = gen.write_bam_inputs(d, seed, n_pairs)
    with open(os.path.join(d, "reads.pkl"), "wb") as f:
        pickle.dump(reads, f, protocol=pickle.HIGHEST_PROTOCOL)
    open(path + ".done", "w").close()
    return path, reads


def vcf_input(work: str, seed: int, n_sites: int):
    d = os.path.join(work, "inputs", f"vcf-seed{seed}-sites{n_sites}")
    path = os.path.join(d, "sites.vcf.gz")
    if os.path.exists(path + ".done"):
        os.utime(d)
        _data, variants = gen.make_vcf(seed, n_sites)
    else:
        path, variants = gen.write_vcf_input(d, seed, n_sites)
        open(path + ".done", "w").close()
    return path, variants


def split_size_for(path: str) -> int:
    """Two splits per core: every scan has 2 x cores partitions, and at this
    input size each further task adds more fixed cost than it parallelizes."""
    cores = os.cpu_count() or 1
    return max(1 << 15, os.path.getsize(path) // (2 * cores))


def random_intervals(rng, refs, widths) -> list[tuple[str, int, int]]:
    """One interval per width, contig weighted by length, uniform start."""
    import numpy as np

    lengths = np.asarray([ln for _n, ln in refs], dtype=float)
    out = []
    for width in widths:
        r = int(rng.choice(len(refs), p=lengths / lengths.sum()))
        s = int(rng.integers(1, max(2, refs[r][1] - width)))
        out.append((refs[r][0], s, s + width - 1))
    return out


def log_uniform_widths(rng, k: int, stratified: bool = False) -> list[int]:
    """``k`` widths log-uniform over 1 kb - 1 Mb; ``stratified`` draws one
    from each of ``k`` equal log-width strata, in random order."""
    u = (rng.permutation(k) + rng.random(k)) / k if stratified else rng.random(k)
    return [int(10 ** (3 + 3 * x)) for x in u]


def region_queries(seed: int, refs, stream: int = 0):
    """Endless seeded query sequence, in blocks of six: 1, 1, 2, 2, 3 and 3
    intervals, the block's 12 widths stratified log-uniform 1 kb - 1 Mb, and
    one query per block also traversing the unplaced-unmapped tail; order
    shuffled. Every block, so every run, has the same mix of work. Warm-up
    queries come from their own ``stream``."""
    import numpy as np

    # stream 0 is seeded from the seed alone, so that a seed names the same
    # queries in every version of this benchmark (see the known defect that
    # vcf_io seed 303 meets, in README.md)
    rng = np.random.default_rng(seed + 2 if stream == 0 else [seed, 2, stream])
    while True:
        counts = rng.permutation([1, 1, 2, 2, 3, 3])
        widths = log_uniform_widths(rng, 12, stratified=True)
        unplaced = int(rng.integers(0, 6))
        for q, k in enumerate(counts):
            yield random_intervals(rng, refs, widths[:k]), q == unplaced
            widths = widths[k:]


# ---------------------------------------------------------------- checks


def compare(got, want) -> list[str]:
    return [] if got == want else [f"result {got} != oracle {want}"]


def reads_agg(df):
    from pyspark.sql import functions as F

    r = df.agg(
        F.count("*"), F.sum("start"), F.sum("flags"), F.sum(F.crc32(F.col("seq")))
    ).collect()[0]
    return {"n": r[0], "start": r[1] or 0, "flags": r[2] or 0, "seq": r[3] or 0}


def flagstat_agg(df):
    from pyspark.sql import functions as F

    bit = lambda b: F.sum((F.col("flags").bitwiseAND(b) != 0).cast("long"))  # noqa: E731
    r = df.agg(F.count("*"), bit(0x4), bit(0x400), bit(0x40), bit(0x10)).collect()[0]
    return list(r)


def flagstat_oracle(reads) -> list[int]:
    f = reads.flags
    return [len(reads)] + [int(((f & b) != 0).sum()) for b in (0x4, 0x400, 0x40, 0x10)]


def variants_agg(df, with_gts: bool = True):
    from pyspark.sql import functions as F

    cols = [F.count("*"), F.sum("start"), F.sum(F.crc32(F.concat_ws(",", "alts")))]
    if with_gts:
        cols.append(F.sum(F.crc32(F.concat_ws("|", F.transform("genotypes", lambda g: g["gt"])))))
    r = df.agg(*cols).collect()[0]
    out = {"n": r[0], "start": r[1] or 0, "alts": r[2] or 0}
    if with_gts:
        out["gts"] = r[3] or 0
    return out


def check_reads_decoded(rows, reads) -> list[str]:
    """Every field of every decoded record equals the generator's record."""
    if len(rows) != len(reads):
        return [f"decoded {len(rows)} records, generated {len(reads)}"]
    names = [n for n, _l in reads.refs]
    for i, r in enumerate(rows):
        placed = reads.ref_id[i] >= 0
        tags = reads.tag_map(i)
        want = {
            "name": reads.name[i],
            "flags": int(reads.flags[i]),
            "contig": names[reads.ref_id[i]] if placed else None,
            "start": int(reads.pos[i]) if placed else None,
            "end": int(reads.end[i]) if placed else None,
            "mapq": int(reads.mapq[i]),
            "cigar": reads.cigar[i],
            "mate_contig": names[reads.mate_ref_id[i]] if reads.mate_ref_id[i] >= 0 else None,
            "mate_start": int(reads.mate_pos[i]) if reads.mate_pos[i] > 0 else None,
            "template_len": int(reads.tlen[i]),
            "seq": reads.seq[i],
            "qual": reads.qual[i],
            "tags": tags,
            "read_group": tags["RG"][2:],
        }
        got = {k: r[k] for k in want}
        if got != want:
            bad = {k: (got[k], want[k]) for k in want if got[k] != want[k]}
            return [f"record {i} differs from the generator (got, want): {bad}"]
    return []


def check_variants_decoded(rows, variants) -> list[str]:
    if len(rows) != len(variants):
        return [f"decoded {len(rows)} variants, generated {len(variants)}"]
    for i, r in enumerate(rows):
        want = (variants.contig[i], int(variants.pos[i]), int(variants.end[i]), variants.ref[i],
                variants.alts[i], variants.gts[i], gen.VCF_SAMPLES)
        got = (r["contig"], r["start"], r["end"], r["ref"], ",".join(r["alts"]),
               "|".join(g["gt"] for g in r["genotypes"]), [g["sample"] for g in r["genotypes"]])
        if got != want:
            return [f"variant {i} differs from the generator: {got} != {want}"]
    return []


# ---------------------------------------------------------------- workloads


def run_bam_io(b: Bench) -> dict:
    from pyspark.sql import functions as F

    from disq_spark import Interval
    from disq_spark.sinks import bam as bsink
    from disq_spark.sources import bam_source

    import numpy as np

    path, reads = bam_input(b.work, b.args.seed, BAM_PAIRS)
    tiny, tiny_reads = bam_input(b.work, b.args.seed, TINY_PAIRS)
    spark, split = b.spark, split_size_for(path)
    want = gen.reads_checksum(reads)
    frame, header = bam_source.read_bam(spark, path, split_size=split)
    frame = frame.persist()
    if frame.count() != len(reads):  # materializes the cache
        raise RuntimeError("persisted reads frame has the wrong count")
    log("reads frame persisted")
    out = os.path.join(b.work, "out", "reads.bam")
    rng = np.random.default_rng(b.args.seed + 1)
    queries = region_queries(b.args.seed, reads.refs)
    warm_queries = region_queries(b.args.seed, reads.refs, stream=1)

    def scan():
        df, _h = bam_source.read_bam(spark, path, split_size=split)
        return reads_agg(df)

    def flagstat():
        df, _h = bam_source.read_bam(spark, path, split_size=split, columns=["flags"])
        return flagstat_agg(df)

    def region(cycle, ivs, unplaced):
        m = gen.overlap_mask(reads, ivs, unplaced)

        def run():
            df, _h = bam_source.read_bam(
                spark, path, split_size=split,
                intervals=[Interval(*iv) for iv in ivs], traverse_unplaced_unmapped=unplaced,
            )
            r = df.agg(F.count("*"), F.sum("mapq")).collect()[0]
            return {"n": r[0], "mapq": r[1] or 0}

        want_q = {"n": int(m.sum()), "mapq": int(reads.mapq[m].sum())}
        b.op("region", want_q["n"], run, lambda r: compare(r, want_q), cycle)

    def warmup():
        """Decode the small input and compare every field of every record."""
        b.op("decode", len(tiny_reads),
             lambda: bam_source.read_bam(spark, tiny)[0].collect(),
             lambda rows: check_reads_decoded(rows, tiny_reads), -1)

    def cycle(i):
        spots = random_intervals(rng, reads.refs, log_uniform_widths(rng, 3))
        src = queries if i >= 0 else warm_queries
        qs = [next(src) for _ in range(BAM_REGIONS_PER_CYCLE)]
        return [
            lambda: b.op("scan", len(reads), scan, lambda r: compare(r, want), i),
            lambda: b.op("pruned", len(reads), flagstat, lambda r: compare(r, flagstat_oracle(reads)), i),
            lambda: b.op("write", len(reads), lambda: bsink.write_bam(frame, header, out, write_bai=True),
                         lambda _r: verify.check_bam_output(out, want, spots), i),
        ] + [lambda q=q: region(i, *q) for q in qs]

    b.window(warmup, cycle)
    out_bytes = sum(os.path.getsize(out + e) for e in ("", ".bai", ".sbi"))
    frame.unpersist()
    return {
        "path": path, "truth": reads, "split_size": split,
        "out_bytes_per_rec": out_bytes / len(reads),
    }


def run_vcf_io(b: Bench) -> dict:
    from disq_spark import Interval
    from disq_spark.sinks import variants as vsink
    from disq_spark.sources import variants as vsrc

    import numpy as np

    path, variants = vcf_input(b.work, b.args.seed, VCF_SITES)
    tiny, tiny_vars = vcf_input(b.work, b.args.seed, TINY_SITES)
    spark, split = b.spark, split_size_for(path)
    want = gen.variants_checksum(variants)
    frame, header = vsrc.read_vcf(spark, path, split_size=split)
    frame = frame.persist()
    if frame.count() != len(variants):  # materializes the cache
        raise RuntimeError("persisted variants frame has the wrong count")
    log("variants frame persisted")
    out = os.path.join(b.work, "out", "sites.vcf.gz")
    rng = np.random.default_rng(b.args.seed + 3)
    queries = region_queries(b.args.seed, variants.refs)
    warm_queries = region_queries(b.args.seed, variants.refs, stream=1)
    sites_cols = ["contig", "start", "end", "ids", "ref", "alts", "qual", "filters", "info"]
    want_sites = {k: v for k, v in want.items() if k != "gts"}

    def scan():
        df, _h = vsrc.read_vcf(spark, path, split_size=split)
        return variants_agg(df)

    def sites():
        df, _h = vsrc.read_vcf(spark, path, split_size=split, columns=sites_cols)
        return variants_agg(df, with_gts=False)

    def write(cycle):
        spots = random_intervals(rng, variants.refs, log_uniform_widths(rng, 3))
        b.op("write", len(variants), lambda: vsink.write_vcf(frame, header, out, write_tbi=True),
             lambda _r: verify.check_vcf_output(out, want, spots), cycle)

    def region(cycle, ivs):
        """An interval query on the file just written, pruned by its .tbi."""
        m = gen.variant_overlap_mask(variants, ivs)

        def run():
            df, _h = vsrc.read_vcf(
                spark, out, split_size=split_size_for(out), intervals=[Interval(*iv) for iv in ivs],
            )
            return variants_agg(df)

        want_q = gen.variants_checksum(variants, m)
        b.op("region", want_q["n"], run, lambda r: compare(r, want_q), cycle)

    def warmup():
        """Decode the small input and compare every field of every variant."""
        b.op("decode", len(tiny_vars), lambda: vsrc.read_vcf(spark, tiny)[0].collect(),
             lambda rows: check_variants_decoded(rows, tiny_vars), -1)

    def cycle(i):
        src = queries if i >= 0 else warm_queries
        qs = [next(src)[0] for _ in range(VCF_REGIONS_PER_CYCLE)]  # a VCF has no unplaced records
        return [
            lambda: b.op("scan", len(variants), scan, lambda r: compare(r, want), i),
            lambda: b.op("pruned", len(variants), sites, lambda r: compare(r, want_sites), i),
            lambda: write(i),
        ] + [lambda q=q: region(i, q) for q in qs]

    b.window(warmup, cycle)
    out_bytes = sum(os.path.getsize(out + e) for e in ("", ".tbi"))
    frame.unpersist()
    return {
        "path": path, "truth": variants, "split_size": split,
        "out_bytes_per_rec": out_bytes / len(variants),
    }


WORKLOADS = {"bam_io": run_bam_io, "vcf_io": run_vcf_io}


# ---------------------------------------------------------------- reporting


def end_to_end(b: Bench, extra: dict) -> dict:
    regions = [o["wall"] for o in b.measured("region")]
    failed = sum(not o["ok"] for o in b.ops)
    log(f"op_error_rate = {failed / len(b.ops)} ({failed} of {len(b.ops)} operations)")
    return {
        "setup_s": b.setup_s[0],
        "scan_rec_per_s": b.rate("scan"),
        "pruned_scan_rec_per_s": b.rate("pruned"),
        "write_rec_per_s": b.rate("write"),
        "out_bytes_per_rec": extra["out_bytes_per_rec"],
        "region_p50_s": statistics.median(regions),
        "py_peak_rss_mb": b.peak_rss_kb / 1024,
    }


def bam_counts(b: Bench, reads) -> dict:
    """Partitions per region query and records decoded per record returned,
    exact: each planned chunk decodes the generator records whose start
    virtual offset lies in [v_start, v_end). Taken over the first six
    measured queries, which every run of a seed makes, so the counts repeat."""
    import numpy as np

    parts, decoded, returned = [], 0, 0
    for o in b.measured("region")[:6]:
        plan = None
        for name, value in b.tracer.returns[o["id"]]:
            if name in ("sources.bam_source.plan_bam_chunks", "sources.bam_source._chunk_may_match"):
                plan = value  # the pruned list, when pruning ran, comes last
        parts.append(len(plan))
        returned += o["n"]
        for vs, ve in plan:
            decoded += int(np.count_nonzero((reads.voff >= vs) & (reads.voff < ve)))
    return {
        "sources.bam.partitions": statistics.median(parts),
        "sources.bam.rec_decoded_per_rec_returned": decoded / returned,
    }


def trace_extras(b: Bench, workload: str, extra: dict) -> dict:
    """Tracing overhead per operation, measured directly: the spans the
    traced operations recorded times the cost of one span wrapper, plus the
    two ``setJobGroup`` calls around each operation. On bam_io also the
    ``format("bam")`` DataSource scan of the same file."""
    t, sc = b.tracer, b.spark.sparkContext
    t0 = time.perf_counter()
    for _ in range(20):
        sc.setJobGroup("probe", "probe")
    job_group_s = (time.perf_counter() - t0) / 20
    sc.setJobGroup("untracked", "untracked")
    spans_per_op = len(t.spans) / len(t.op_wall)
    out = {"trace.overhead_s": spans_per_op * t.wrapper_cost_s() + 2 * job_group_s}
    if workload == "bam_io":
        from disq_spark import register_datasources

        register_datasources(b.spark)
        truth = extra["truth"]
        want = gen.reads_checksum(truth)
        ns = []
        for _ in range(2):
            t0 = time.perf_counter()
            df = b.spark.read.format("bam").option("split_size", str(extra["split_size"])).load(extra["path"])
            res = reads_agg(df)
            ns.append((time.perf_counter() - t0) / len(truth) * 1e9)
            if compare(res, want):
                raise RuntimeError(f"format('bam') scan: {compare(res, want)}")
        out["sources.datasource.bam_scan_ns_per_rec"] = statistics.median(ns)
    return out


def per_layer(b: Bench, workload: str, extra: dict, canary: float) -> dict:
    """Per-layer metrics of the traced run; 0 for a layer the workload does not use."""
    import layers

    t = b.tracer
    spark_stats, unions = layers.spark_op_stats(
        os.path.join(b.work, "eventlog"), t.op_kind, t.op_wall
    )
    m = {k: 0.0 for k in PER_LAYER}
    m["host.canary_s"] = canary
    m["session.get_session_s"] = b.setup_s[1]
    m["session.first_python_job_s"] = b.setup_s[2]
    for name, key in SPAN_METRICS.items():
        m[key] = t.span_median(name)
    for layer, v in t.self_time_per_op(unions).items():
        m[f"self.{layer}_s_per_op"] = v
    m["sinks.bytes_written_per_out_byte"] = t.bytes_written / t.bytes_out
    for kind, stats in spark_stats.items():
        for stat, v in stats.items():
            m[f"spark.{kind}.{stat}"] = v
    if workload == "bam_io":
        m.update(bam_counts(b, extra["truth"]))
        m.update(layers.replay_bam(extra["path"], extra["split_size"], b.work))
    else:
        m.update(layers.replay_vcf(extra["path"], extra["split_size"], gen.VCF_SAMPLES))
    m.update(extra["layer"])
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import bench as repo_bench  # the repository's CPU canary
        import disq_spark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program from {root}: {e}")
        return 2

    work = os.path.join(HERE, ".work")
    for sub in ("tmp", "spark-local", "eventlog", "out"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        os.makedirs(os.path.join(work, sub))
    prune_inputs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))

    canary = 0.0
    if args.trace:  # steady.py runs the canary between --trace 0 runs
        canary = repo_bench.cpu_canary()
        log(f"canary {canary:.3f} s")

    b = Bench(args, work)
    try:
        b.setup()
        if args.trace:
            import layers

            b.tracer = layers.Tracer()
            b.tracer.install()
        extra = WORKLOADS[args.workload](b)
        extra["layer"] = {}
        if args.trace:
            b.tracer.uninstall()
            extra["layer"] = trace_extras(b, args.workload, extra)
    finally:
        b.shutdown()
    log("session stopped")

    for e in b.errors:
        log("FAILED " + e)
    if args.trace:
        b.tracer.dump(os.path.join(work, "spans.jsonl"))
        metrics, units = per_layer(b, args.workload, extra, canary), PER_LAYER
    else:
        metrics, units = end_to_end(b, extra), END_TO_END
    failed = sum(not o["ok"] for o in b.ops)
    result = {
        "correct": failed == 0,
        "attempted": len(b.ops),
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
