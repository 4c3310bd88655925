"""Per-layer measurement for the traced run (``--trace 1``).

Three sources, all driven from the benchmark's own files:

* driver-side spans: public functions of the program's driver path are
  wrapped (module attribute swap, undone afterwards); every call records a
  span (name, layer, start, end, parent, operation id) kept in memory;
* Spark: every operation runs under its own job group; jobs, stages and
  tasks are read back from the event log once the session has stopped;
* executor-side replays: code that runs in Python workers cannot be wrapped
  from the driver, so the same public calls are replayed in-process on one
  representative planned chunk.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from dataclasses import dataclass

# (module, attribute, layer) of each wrapped driver-side function
DRIVER_FUNCS = [
    ("disq_spark.sources.bam_source", "read_bam", "sources"),
    ("disq_spark.sources.bam_source", "plan_bam_chunks", "sources"),
    ("disq_spark.sources.bam_source", "_chunk_may_match", "sources"),
    ("disq_spark.sources.variants", "read_vcf", "sources"),
    ("disq_spark.sources.variants", "plan_ranges", "sources"),
    ("disq_spark.formats.bai", "read_bai", "formats"),
    ("disq_spark.formats.bai", "merge_bai", "formats"),
    ("disq_spark.formats.sbi", "merge_sbi", "formats"),
    ("disq_spark.formats.tabix", "read_tbi", "formats"),
    ("disq_spark.formats.tabix", "merge_tbi", "formats"),
    ("disq_spark.functions.intervals", "filter_intervals", "functions"),
    ("disq_spark.sinks.bam", "write_bam", "sinks"),
    ("disq_spark.sinks.bam", "finalize_single", "sinks"),
    ("disq_spark.sinks.variants", "write_vcf", "sinks"),
    ("disq_spark.sinks.variants", "finalize_single", "sinks"),
    ("disq_spark.sinks.merge", "concat_parts", "sinks"),
]


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op_id: str


def _files_size(paths) -> int:
    return sum(os.path.getsize(p) for p in paths if os.path.isfile(p))


class Tracer:
    """Spans of the driver-side calls, grouped by operation."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self.op_kind: dict[str, str] = {}
        self.op_wall: dict[str, float] = {}
        self.returns: dict[str, list] = {}  # op id -> [(func name, return value)]
        self.bytes_written = 0  # parts, fragments and final outputs of every write
        self.bytes_out = 0  # final outputs and their indexes
        self._undo: list[tuple[object, str, object]] = []

    # -- spans
    def begin_op(self, op_id: str, kind: str) -> None:
        self.op_id = op_id
        self.op_kind[op_id] = kind
        self.returns[op_id] = []

    def end_op(self, wall: float) -> None:
        self.op_wall[self.op_id] = wall
        self.op_id = None

    def forget(self, kind: str) -> None:
        """Drop the operations of ``kind`` and their spans."""
        ops = {op for op, k in self.op_kind.items() if k == kind}
        for op in ops:
            del self.op_kind[op], self.op_wall[op], self.returns[op]
        keep = [i for i, s in enumerate(self.spans) if s.op_id not in ops]
        new_index = {old: new for new, old in enumerate(keep)}
        spans = []
        for i in keep:
            s = self.spans[i]
            s.parent = new_index.get(s.parent) if s.parent is not None else None
            spans.append(s)
        self.spans = spans

    def _wrap(self, qual: str, layer: str, fn):
        tracer = self

        def wrapper(*args, **kwargs):
            if tracer.op_id is None:
                return fn(*args, **kwargs)
            parent = tracer._stack[-1] if tracer._stack else None
            span = Span(qual, layer, time.time(), 0.0, parent, tracer.op_id)
            tracer.spans.append(span)
            tracer._stack.append(len(tracer.spans) - 1)
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.time()
                tracer._stack.pop()
            tracer.returns[tracer.op_id].append((qual, out))
            return out

        return wrapper

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in DRIVER_FUNCS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            qual = mod_name.replace("disq_spark.", "") + "." + attr
            if attr == "concat_parts":
                fn = self._count_concat(fn)
            elif attr == "finalize_single":
                fn = self._count_finalize(fn)
            self._undo.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, self._wrap(qual, layer, fn))

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._undo):
            setattr(mod, attr, fn)
        self._undo.clear()

    # -- write amplification: every byte the sink writes vs. the bytes it
    # leaves, counted inside traced operations only
    def _count_concat(self, fn):
        def concat_parts(dst, srcs, *a, **k):
            if self.op_id is not None:
                self.bytes_written += _files_size(srcs)
            return fn(dst, srcs, *a, **k)

        return concat_parts

    def _count_finalize(self, fn):
        def finalize_single(path, parts_dir, *a, **k):
            if self.op_id is None:
                return fn(path, parts_dir, *a, **k)
            hidden = [p for p in glob.glob(os.path.join(parts_dir, ".*")) if os.path.isfile(p)]
            self.bytes_written += _files_size(hidden)
            out = fn(path, parts_dir, *a, **k)
            final = _files_size([path] + [path + ext for ext in (".sbi", ".bai", ".tbi")])
            self.bytes_written += final
            self.bytes_out += final
            return out

        return finalize_single

    def wrapper_cost_s(self, calls: int = 2000, repeats: int = 7) -> float:
        """Seconds one span wrapper adds to a call: a wrapped no-op against
        the bare no-op inside a throw-away operation, median of ``repeats``."""

        def noop():
            return None

        wrapped = self._wrap("probe.noop", "probe", noop)
        costs = []
        for _ in range(repeats):
            self.begin_op("probe", "probe")
            t0 = time.perf_counter()
            for _ in range(calls):
                wrapped()
            t1 = time.perf_counter()
            for _ in range(calls):
                noop()
            t2 = time.perf_counter()
            self.end_op(0.0)
            self.forget("probe")
            costs.append(((t1 - t0) - (t2 - t1)) / calls)
        return statistics.median(costs)

    # -- summaries
    def span_median(self, name: str) -> float:
        """Median, over the operations that called ``name``, of the time
        spent in it per operation."""
        per_op: dict[str, float] = {}
        for s in self.spans:
            if s.name == name:
                per_op[s.op_id] = per_op.get(s.op_id, 0.0) + s.end - s.start
        return statistics.median(per_op.values()) if per_op else 0.0

    def self_time_per_op(self, stages: dict[str, list[tuple[float, float]]]) -> dict[str, float]:
        """Mean self time per operation by layer.

        Spark's stage-union intervals of an operation (epoch seconds, from
        the event log) become "spark" child spans of the innermost span that
        encloses them. A span's self time is its duration minus its direct
        children's; "driver" is the operation's wall outside every span and
        stage (job launch, py4j, JVM-side planning)."""
        nodes = [(s.layer, s.start, s.end, s.parent, s.op_id) for s in self.spans]
        for op, ivs in stages.items():
            if op not in self.op_wall:
                continue
            for st, en in ivs:
                mid, parent, depth = (st + en) / 2, None, -1
                for i, s in enumerate(self.spans):
                    if s.op_id == op and s.start <= mid <= s.end:
                        d, p = 0, s.parent
                        while p is not None:
                            d, p = d + 1, self.spans[p].parent
                        if d > depth:
                            parent, depth = i, d
                nodes.append(("spark", st, en, parent, op))
        child = [0.0] * len(nodes)
        for layer, st, en, parent, op in nodes:
            if parent is not None:
                child[parent] += en - st
        by_layer: dict[str, float] = {}
        top = {op: 0.0 for op in self.op_wall}
        for i, (layer, st, en, parent, op) in enumerate(nodes):
            if op not in top:
                continue
            by_layer[layer] = by_layer.get(layer, 0.0) + (en - st) - child[i]
            if parent is None:
                top[op] += en - st
        n = max(len(self.op_wall), 1)
        out = {layer: v / n for layer, v in by_layer.items()}
        out["driver"] = sum(self.op_wall[op] - top[op] for op in self.op_wall) / n
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# ---------------------------------------------------------------- Spark event log


def spark_op_stats(event_dir: str, op_kind: dict[str, str], op_wall: dict[str, float]):
    """Per operation kind: medians over operations of jobs, stages, tasks,
    stage-union time, summed task time, driver gap and task skew, from the
    event log of the stopped session; plus each operation's merged stage
    intervals (epoch seconds)."""
    logs = glob.glob(os.path.join(event_dir, "*"))
    if len(logs) != 1 or logs[0].endswith(".inprogress"):
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {logs}")
    job_group, stage_job, stage_span, tasks = {}, {}, {}, {}
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = group
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stage_span[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
            elif kind == "SparkListenerTaskEnd":
                ti = ev["Task Info"]
                tasks.setdefault(ev["Stage ID"], []).append(ti["Finish Time"] - ti["Launch Time"])
    per_op = {op: {"jobs": 0, "stages": [], "tasks": []} for op in op_kind}
    for job, group in job_group.items():
        if group in per_op:
            per_op[group]["jobs"] += 1
    for sid, (s, e) in stage_span.items():
        group = job_group.get(stage_job.get(sid))
        if group in per_op:
            per_op[group]["stages"].append((s, e))
            per_op[group]["tasks"].extend(tasks.get(sid, []))
    by_kind: dict[str, dict[str, list]] = {}
    unions: dict[str, list[tuple[float, float]]] = {}
    for op, rec in per_op.items():
        ivs = sorted(rec["stages"])
        merged: list[list[float]] = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        unions[op] = [(s / 1000, e / 1000) for s, e in merged]
        union = sum(e - s for s, e in merged)
        t = rec["tasks"]
        stats = {
            "jobs_per_op": rec["jobs"],
            "stages_per_op": len(ivs),
            "tasks_per_op": len(t),
            "stage_union_s": union / 1000,
            "task_sum_s": sum(t) / 1000,
            "driver_gap_s": op_wall[op] - union / 1000,
            "task_skew": (max(t) / max(statistics.median(t), 1)) if t else 0.0,
        }
        for k, v in stats.items():
            by_kind.setdefault(op_kind[op], {}).setdefault(k, []).append(v)
    stats = {kind: {k: statistics.median(v) for k, v in m.items()} for kind, m in by_kind.items()}
    return stats, unions


# ---------------------------------------------------------------- executor-side replays


class _Accum:
    """Swap ``mod.attr`` for a wrapper that adds up the time spent in it."""

    def __init__(self, mod, attr):
        self.mod, self.attr, self.fn, self.total = mod, attr, getattr(mod, attr), 0.0

    def __enter__(self):
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return self.fn(*a, **k)
            finally:
                self.total += time.perf_counter() - t0

        setattr(self.mod, self.attr, timed)
        return self

    def __exit__(self, *exc):
        setattr(self.mod, self.attr, self.fn)


def _timed(fn, *a, **k):
    t0 = time.perf_counter()
    out = fn(*a, **k)
    return out, time.perf_counter() - t0


def _to_arrow(pdf, schema):
    """The pandas -> Arrow conversion mapInPandas applies to each output batch."""
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type

    ser = ArrowStreamPandasUDFSerializer("UTC", False, True, arrow_cast=True)
    return ser._create_batch(
        [(pdf[f.name], to_arrow_type(f.dataType), f.dataType) for f in schema.fields]
    )


def _median_runs(fn, repeats: int) -> dict[str, float]:
    runs = [fn() for _ in range(repeats)]
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}


def replay_bam(path: str, split_size: int, work_dir: str, repeats: int = 3) -> dict:
    """ns/record of each executor-side BAM layer on the middle planned chunk."""
    import pandas as pd

    from disq_spark.formats import bam as bamcodec
    from disq_spark.formats import bgzf
    from disq_spark.schemas import READS_COLUMNS, READS_SCHEMA
    from disq_spark.sinks import bam as bsink
    from disq_spark.sources import bam_source

    _h, refs, first = bam_source.read_bam_header(path)
    chunks = bam_source.plan_bam_chunks(path, split_size, refs, first)
    v_start, v_end = chunks[len(chunks) // 2]
    ref_index = {name: i for i, (name, _l) in enumerate(refs)}

    def once() -> dict:
        with _Accum(bgzf, "decompress_block") as inflate, _Accum(bamcodec, "decode_batch") as dec:
            cols, total = _timed(bam_source.decode_chunk_cols, path, refs, v_start, v_end)
        n = len(cols["flags"])
        with _Accum(bamcodec, "decode_batch") as dec_pruned:
            bam_source.decode_chunk_cols(
                path, refs, v_start, v_end, with_seq=False, with_qual=False, with_tags=False
            )
        pdf, t_pd = _timed(pd.DataFrame, cols, columns=READS_COLUMNS)
        _b, t_arrow = _timed(_to_arrow, pdf, READS_SCHEMA)
        out = {
            "formats.bgzf.inflate_ns_per_rec": inflate.total / n * 1e9,
            "formats.bam.decode_batch_ns_per_rec": dec.total / n * 1e9,
            "formats.bam.decode_batch_pruned_ns_per_rec": dec_pruned.total / n * 1e9,
            "sources.bam.offset_walk_ns_per_rec": (total - inflate.total - dec.total) / n * 1e9,
            "boundary.pandas_ns_per_rec": t_pd / n * 1e9,
            "boundary.arrow_ns_per_rec": t_arrow / n * 1e9,
        }
        rows = pdf.to_dict("records")  # what the sink's partition function iterates
        encoded, t_enc = _timed(lambda: [bamcodec.encode_record(r, ref_index) for r in rows])
        payload = b"".join(encoded)
        step = bgzf.MAX_PAYLOAD
        _c, t_defl = _timed(
            lambda: [bgzf.compress_block(payload[i : i + step]) for i in range(0, len(payload), step)]
        )
        part = os.path.join(work_dir, "replay_part.bam")
        _n, t_part = _timed(bsink.encode_part, iter(rows), part, ref_index, 4096, True)
        for p in glob.glob(os.path.join(work_dir, "*replay_part*")):
            os.remove(p)
        out.update(
            {
                "formats.bam.encode_record_ns_per_rec": t_enc / n * 1e9,
                "formats.bgzf.deflate_ns_per_rec": t_defl / n * 1e9,
                "sinks.bam.encode_part_ns_per_rec": t_part / n * 1e9,
            }
        )
        return out

    return _median_runs(once, repeats)


def replay_vcf(path: str, split_size: int, samples: list[str], repeats: int = 3) -> dict:
    """ns/record of each executor-side VCF layer on the middle planned range."""
    import pandas as pd

    from disq_spark.formats import bgzf
    from disq_spark.formats import vcf as vcfcodec
    from disq_spark.schemas import VARIANTS_COLUMNS, VARIANTS_SCHEMA
    from disq_spark.sources import plan, variants

    ranges = plan.plan_ranges([path], split_size)
    r = ranges[len(ranges) // 2]

    def once() -> dict:
        with _Accum(bgzf, "decompress_block") as inflate:
            lines, t_lines = _timed(variants._range_lines, path, r.start, r.end)
        n = len(lines)
        pdf, t_parse = _timed(vcfcodec.parse_vcf_lines, pd.Series(lines, dtype="object"), samples)
        rows = list(pdf.itertuples(index=False, name=None))
        pdf2, t_pd = _timed(pd.DataFrame, rows, columns=VARIANTS_COLUMNS)
        _b, t_arrow = _timed(_to_arrow, pdf2, VARIANTS_SCHEMA)
        text, t_fmt = _timed(vcfcodec.format_vcf_batch, pdf, samples)
        payload = ("\n".join(text) + "\n").encode()
        step = bgzf.MAX_PAYLOAD
        _c, t_defl = _timed(
            lambda: [bgzf.compress_block(payload[i : i + step]) for i in range(0, len(payload), step)]
        )
        return {
            "formats.bgzf.inflate_ns_per_rec": inflate.total / n * 1e9,
            "sources.vcf.range_lines_ns_per_rec": (t_lines - inflate.total) / n * 1e9,
            "formats.vcf.parse_vcf_lines_ns_per_rec": t_parse / n * 1e9,
            "boundary.pandas_ns_per_rec": t_pd / n * 1e9,
            "boundary.arrow_ns_per_rec": t_arrow / n * 1e9,
            "formats.vcf.format_vcf_batch_ns_per_rec": t_fmt / n * 1e9,
            "formats.bgzf.deflate_ns_per_rec": t_defl / n * 1e9,
        }

    return _median_runs(once, repeats)
