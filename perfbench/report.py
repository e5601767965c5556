"""Turns the raw record of one benchmark run into named metrics.

Pure functions over plain data (no Spark, no files), so the rules they
implement are unit-tested in perfbench/tests.
"""
import math
import re
import statistics
from collections import defaultdict

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
MIB = 1048576.0

# The samples that time each workload's operations, one list per kind of
# operation (query_mix: one per query shape and dedup operator).
def op_kinds(workload, samples):
    """Sample key -> latencies, for each kind of defining operation."""
    if workload == "write_mix":
        # ingest: insert and fresh read; compaction: insert and optimize on
        # each table. Cleanup (a few ms of log rewriting) is timer noise.
        keys = ["insert_ms", "fresh_read_ms", "insert_plain_ms", "insert_agg_ms",
                "optimize_plain_ms", "optimize_agg_ms"]
    else:
        keys = [k for k in samples if k.startswith(("query.", "operators."))]
    return {k: samples[k] for k in sorted(keys) if samples.get(k)}


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


def query_samples(samples):
    """Latencies of the query shapes, pooled (dedup operators left out)."""
    return [x for k in sorted(samples) if k.startswith("query.") for x in samples[k]]


def dedup_pass_ms(samples):
    """One pass of the four dedup operators: the sum of their medians."""
    return sum(median(samples.get(f"operators.{k}_ms", [])) for k in DEDUP_KINDS)


def query_pass_ms(samples):
    """One pass of the query shapes: the sum of their medians."""
    return sum((median(v) for k, v in samples.items() if k.startswith("query.") and v), 0.0)


def gated(workload, samples):
    """The gated timings (read_ms, batch_s), each with its sample count
    (see README):
      write_mix: median fresh read; median whole compaction cycle (its
        inserts, two optimize and two cleanup calls);
      query_mix: a pass of the 11 query shapes; a pass of the four dedup
        operators (each the sum of the per-kind medians). A pooled median
        of the shapes jumps between clusters of shapes from run to run."""
    if workload == "write_mix":
        read, cycle = samples.get("fresh_read_ms", []), samples.get("cycle_ms", [])
        return (median(read), len(read)), (median(cycle) / 1e3, len(cycle))
    def rounds(keys):
        return min((len(samples.get(k, [])) for k in keys), default=0)
    shapes = [f"query.{q}" for q in QUERY_SHAPES]
    dedup = [f"operators.{k}_ms" for k in DEDUP_KINDS]
    return ((query_pass_ms(samples), rounds(shapes)),
            (dedup_pass_ms(samples) / 1e3, rounds(dedup)))


QUERY_SHAPES = ["a18_partition_prune", "b2_partition_columns", "b5_filter",
                "b6_group_agg", "b7_count_distinct", "b10_quantiles", "b11_topk",
                "b12_json_extract", "b15_datetime", "join_star_schema",
                "b44_bucket_join"]
DEDUP_KINDS = ["exact", "minhash", "semantic", "image"]
TAIL_CANDIDATES = (99, 95, 90, 75)
PAUSE = "harness.pause"  # time the benchmark took off the phase clock


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n: int):
    """The highest reported percentile that leaves at least ten samples
    beyond it, or None when even p75 does not."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= 10:
            return p
    return None


def median(values, default=0.0):
    return statistics.median(values) if values else default


def timing(prefix: str, values):
    """Median plus the highest percentile with ten samples beyond it (ms)."""
    if not values:
        return {}
    out = {f"{prefix}_p50_ms": {"value": median(values), "unit": "ms", "n": len(values)}}
    p = tail_percentile(len(values))
    if p is not None:
        out[f"{prefix}_p{p}_ms"] = {"value": percentile(values, p), "unit": "ms",
                                     "n": len(values)}
    return out


# ------------------------------------------------------------------ spans

def union_length(intervals):
    """Total length covered by possibly overlapping [lo, hi) intervals."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    return total + (cur_hi - cur_lo if cur_hi is not None else 0)


def self_times(spans):
    """Span id -> self time: its duration minus the part of it that its
    direct children cover. Spans are [id, parent, name, op, start, end]."""
    kids = defaultdict(list)
    for s in spans:
        kids[s[1]].append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) - union_length((max(lo, s[4]), min(hi, s[5]))
                                               for lo, hi in kids.get(s[0], []))
            for s in spans}


def attribute_jobs(spans, jobs, offset_ns):
    """Job id -> the innermost span open when the job was submitted. One
    client: spans never overlap except by nesting, so the open span with
    the latest start is the innermost."""
    windows = sorted(((s[4] + offset_ns) / 1e6, (s[5] + offset_ns) / 1e6, s[0])
                     for s in spans)
    out = {}
    for job_id, submit_ms, _end_ms, _stages in jobs:
        best = None
        for lo, hi, sid in windows:
            if lo > submit_ms + 1:
                break
            if lo - 1 <= submit_ms <= hi + 1:
                best = sid
        if best is not None:
            out[job_id] = best
    return out


TASK_FIELDS = ["stage", "launch_ms", "finish_ms", "cpu_ns", "run_ms", "gc_ms",
               "shuffle_write_b", "shuffle_read_b", "spill_b", "peak_mem_b",
               "input_b", "input_records"]


def task_rows(tasks):
    return [dict(zip(TASK_FIELDS, t)) for t in tasks]


class Trace:
    """A traced phase with its jobs and tasks tied to spans."""

    def __init__(self, phase):
        self.phase = phase
        self.spans = phase["spans"]
        self.by_id = {s[0]: s for s in self.spans}
        self.self_ns = self_times(self.spans)
        self.tasks = task_rows(phase["tasks"])
        job_span = attribute_jobs(self.spans, phase["jobs"], phase["epoch_offset_ns"])
        stage_job = {}
        for job_id, _s, _e, stages in phase["jobs"]:
            for st in stages:
                stage_job[st] = job_id
        self.jobs = phase["jobs"]
        self.job_span = job_span
        self.task_span = [job_span.get(stage_job.get(t["stage"])) for t in self.tasks]

    def named(self, name):
        return [s for s in self.spans if s[2] == name]

    def durations_ms(self, name):
        return [(s[5] - s[4]) / 1e6 for s in self.named(name)]

    def lineage(self, sid):
        """Span `sid` and its ancestors, innermost first."""
        while sid:
            yield self.by_id[sid]
            sid = self.by_id[sid][1]

    def under(self, sid, name):
        """Is span `sid` the span called `name` or inside one?"""
        return any(s[2] == name for s in self.lineage(sid))

    def tasks_under(self, name):
        return [t for t, sid in zip(self.tasks, self.task_span) if self.under(sid, name)]

    def jobs_under(self, name):
        return [j for j in self.jobs if self.under(self.job_span.get(j[0]), name)]

    def driver_ms(self, name):
        """Per span called `name`: its wall time minus the time Spark jobs
        submitted inside it were running."""
        off = self.phase["epoch_offset_ns"]
        out = []
        for s in self.named(name):
            lo, hi = s[4] + off, s[5] + off
            ivs = [(max(j[1] * 1e6, lo), min(j[2] * 1e6, hi)) for j in self.jobs
                   if any(a[0] == s[0] for a in self.lineage(self.job_span.get(j[0])))]
            out.append((hi - lo - union_length(ivs)) / 1e6)
        return out

    def self_by_name(self):
        out = defaultdict(float)
        for s in self.spans:
            out[s[2]] += self.self_ns[s[0]] / 1e6
        return dict(out)


def _sum(rows, key):
    return float(sum(r[key] for r in rows))


def task_skew(tasks):
    by_stage = defaultdict(list)
    for t in tasks:
        by_stage[t["stage"]].append(t["run_ms"])
    skews = [max(v) / max(1.0, statistics.median(v)) for v in by_stage.values() if len(v) >= 2]
    return median(skews, 1.0)


def per_layer(workload, untraced, traced):
    """Every per-layer metric, 0 where this workload leaves the layer idle."""
    tr = Trace(traced)
    c = traced["counters"]
    smp = traced["samples"]
    m = {}

    def put(name, value, unit):
        m[name] = {"value": float(value), "unit": unit}

    # the log
    put("IceLogIO.fold_ms", median(tr.durations_ms("IceLogIO.fold")), "ms")
    put("IceLogIO.list_ms", median(tr.durations_ms("IceLogIO.list")), "ms")
    put("IceLogIO.logs_folded", median(smp.get("fold.logs", [])), "count")
    put("IceLogIO.markers_folded", median(smp.get("fold.markers", [])), "count")

    # the write path
    commits = c.get("insert.commits", 0.0)
    files = c.get("insert.files", 0.0)
    rows = c.get("insert.rows", 0.0)
    ins_tasks = tr.tasks_under("IceTable.insert")
    put("IceTable.insert.files_per_commit", files / commits if commits else 0, "count")
    put("IceTable.insert.rows_per_file", rows / files if files else 0, "count")
    put("IceTable.insert.bytes_per_row", c.get("insert.bytes", 0.0) / rows if rows else 0, "B")
    put("IceTable.insert.spark_jobs_per_commit",
        len(tr.jobs_under("IceTable.insert")) / commits if commits else 0, "count")
    put("IceTable.insert.tasks_per_commit", len(ins_tasks) / commits if commits else 0, "count")
    put("IceTable.insert.exec_cpu_ms_per_commit",
        _sum(ins_tasks, "cpu_ns") / 1e6 / commits if commits else 0, "ms")
    put("IceTable.insert.driver_ms_per_commit", median(tr.driver_ms("IceTable.insert")), "ms")

    # scan and planning
    reads = len(tr.named("spark.execute"))
    total = c.get("scan.files_total", 0.0)
    read = c.get("scan.files_read", 0.0)
    exec_tasks = tr.tasks_under("spark.execute")
    put("IceFileIndex.plan_ms", median(tr.durations_ms("IceFileIndex.plan")), "ms")
    put("IceFileIndex.files_total", total / reads if reads else 0, "count")
    put("IceFileIndex.files_read", read / reads if reads else 0, "count")
    put("IceFileIndex.pruned_ratio", 1 - read / total if total else 0, "ratio")
    put("IceFileIndex.bytes_read_mb", _sum(exec_tasks, "input_b") / MIB / reads if reads else 0,
        "MiB")
    rows_out = c.get("scan.rows_out", 0.0)
    put("IceFileIndex.rows_read_per_row_out",
        _sum(exec_tasks, "input_records") / rows_out if rows_out else 0, "ratio")

    # compaction
    opt_tasks = tr.tasks_under("IceTable.optimize")
    opt_s = sum(tr.durations_ms("IceTable.optimize")) / 1e3
    mb_in = c.get("optimize.bytes_in", 0.0) / MIB
    put("IceTable.optimize.merges", c.get("optimize.merges", 0.0), "count")
    put("IceTable.optimize.files_in", c.get("optimize.files_in", 0.0), "count")
    put("IceTable.optimize.files_out", c.get("optimize.files_out", 0.0), "count")
    put("IceTable.optimize.mb_in", mb_in, "MiB")
    put("IceTable.optimize.mb_out", c.get("optimize.bytes_out", 0.0) / MIB, "MiB")
    put("IceTable.optimize.mb_per_s", mb_in / opt_s if opt_s else 0, "MiB/s")
    put("IceTable.optimize.exec_cpu_s", _sum(opt_tasks, "cpu_ns") / 1e9, "s")
    put("IceTable.optimize.gc_s", _sum(opt_tasks, "gc_ms") / 1e3, "s")
    put("IceTable.optimize.plain_s", median(smp.get("optimize_plain_ms", [])) / 1e3, "s")
    put("IceTable.optimize.agg_s", median(smp.get("optimize_agg_ms", [])) / 1e3, "s")

    # cleanup
    put("IceTable.tombstoneCleanup.logs_deleted", c.get("cleanup.logs_deleted", 0.0), "count")
    put("IceTable.tombstoneCleanup.data_files_deleted",
        c.get("cleanup.data_files_deleted", 0.0), "count")
    put("IceTable.tombstoneCleanup.ms", median(tr.durations_ms("IceTable.tombstoneCleanup")), "ms")

    # the SQL surface
    for q in QUERY_SHAPES:
        put(f"SparkEntry.{q}_ms", median(tr.durations_ms(f"SparkEntry.{q}")), "ms")

    # the LLM operators
    for k in DEDUP_KINDS:
        name = f"operators.{k}"
        calls = len(tr.named(name))
        op_tasks = tr.tasks_under(name)
        put(f"{name}_ms", median(tr.durations_ms(name)), "ms")
        put(f"{name}_gc_ms", _sum(op_tasks, "gc_ms") / calls if calls else 0, "ms")
        put(f"{name}_shuffle_mb", _sum(op_tasks, "shuffle_write_b") / MIB / calls if calls else 0,
            "MiB")

    # Spark execution, over the timed work of the traced phase
    t = [r for r, sid in zip(tr.tasks, tr.task_span) if sid and not tr.under(sid, PAUSE)]
    timed_jobs = [j for j in tr.jobs if tr.job_span.get(j[0]) and
                  not tr.under(tr.job_span[j[0]], PAUSE)]
    put("spark.jobs", len(timed_jobs), "count")
    put("spark.tasks", len(t), "count")
    put("spark.exec_cpu_s", _sum(t, "cpu_ns") / 1e9, "s")
    put("spark.exec_run_s", _sum(t, "run_ms") / 1e3, "s")
    put("spark.gc_s", _sum(t, "gc_ms") / 1e3, "s")
    put("spark.shuffle_write_mb", _sum(t, "shuffle_write_b") / MIB, "MiB")
    put("spark.shuffle_read_mb", _sum(t, "shuffle_read_b") / MIB, "MiB")
    put("spark.spill_mb", _sum(t, "spill_b") / MIB, "MiB")
    put("spark.peak_exec_mem_mb", max((r["peak_mem_b"] for r in t), default=0) / MIB, "MiB")
    put("spark.task_skew", task_skew(t), "ratio")

    # the JVM
    proc = traced["process"]
    put("jvm.cpu_s", proc["cpu_s"], "s")
    put("jvm.gc_s", proc["gc_s"], "s")
    put("jvm.heap_peak_mb", proc["heap_peak_mb"], "MiB")

    # the trace itself
    put("trace.coverage", coverage(tr.spans, traced["timed_s"]), "ratio")
    put("trace.overhead_ratio", overhead(workload, untraced, traced), "ratio")
    return m


def coverage(spans, timed_s):
    """Share of the timed wall time that the operation spans account for:
    root spans, less the pauses nested inside them, over the phase clock
    (which excludes every pause)."""
    by_id = {s[0]: s for s in spans}

    def root_of(s):
        while s[1]:
            s = by_id[s[1]]
        return s
    ops = sum(s[5] - s[4] for s in spans if s[1] == 0 and s[2] != PAUSE)
    nested = sum(s[5] - s[4] for s in spans
                 if s[2] == PAUSE and s[1] and root_of(s)[2] != PAUSE and
                 by_id[s[1]][2] != PAUSE)
    return (ops - nested) / 1e9 / timed_s if timed_s else 0.0


def overhead(workload, untraced, traced):
    """How much slower the traced phases ran than the untraced ones: per
    kind of defining operation, the ratio of median latencies; geometric
    mean over the kinds, minus one."""
    u = op_kinds(workload, untraced["samples"])
    t = op_kinds(workload, traced["samples"])
    ratios = [median(t[k]) / median(u[k]) for k in u if k in t and median(u[k]) > 0]
    return geomean(ratios) - 1 if ratios else 0.0


def end_to_end(workload, phase, setup_s, failed, attempted):
    """The untraced phase's user-visible figures, with sample counts."""
    smp, c, proc = phase["samples"], phase["counters"], phase["process"]
    ops = len(smp.get("ops_ms", []))
    (read, n_read), (batch, n_batch) = gated(workload, smp)
    probe = smp.get("probe_ms", [])
    m = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "read_ms": {"value": read, "unit": "ms", "n": n_read},
        "batch_s": {"value": batch, "unit": "s", "n": n_batch},
        "ops_per_s": {"value": ops / phase["timed_s"] if phase["timed_s"] else 0.0,
                      "unit": "op/s", "n": ops},
        "host_probe_ms": {"value": median(probe), "unit": "ms", "n": len(probe)},
        "failed_ratio": {"value": failed / attempted if attempted else 0.0, "unit": "ratio",
                         "n": attempted},
        "heap_peak_mb": {"value": proc["heap_peak_mb"], "unit": "MiB"},
        "cpu_per_wall": {"value": proc["cpu_per_wall"], "unit": "ratio"},
    }
    if workload == "write_mix":
        m.update(timing("insert", smp.get("insert_ms", [])))
        m.update(timing("compact_insert", smp.get("insert_plain_ms", []) +
                        smp.get("insert_agg_ms", [])))
        ins = smp.get("insert_ms", [])
        m["ingest_rows_per_s"] = {"value": c.get("ingest.rows", 0.0) / (sum(ins) / 1e3)
                                  if ins else 0.0, "unit": "rows/s", "n": len(ins)}
        m["fresh_read_p50_ms"] = {"value": read, "unit": "ms", "n": n_read}
        clean, comp = smp.get("cleanup_cycle_ms", []), smp.get("compact_ms", [])
        m["compact_s"] = {"value": median(comp) / 1e3, "unit": "s", "n": len(comp)}
        m["cleanup_s"] = {"value": median(clean) / 1e3, "unit": "s", "n": len(clean)}
        ins_b = c.get("compact.insert_bytes", 0.0)
        m["write_amp"] = {"value": (ins_b + c.get("optimize.bytes_out", 0.0)) / ins_b
                          if ins_b else 0.0, "unit": "ratio"}
        alive = c.get("space.alive_bytes", 0.0)
        m["space_amp"] = {"value": c.get("space.data_bytes", 0.0) / alive if alive else 0.0,
                          "unit": "ratio"}
    if workload == "query_mix":
        m.update(timing("query", query_samples(smp)))
        m["dedup_pass_s"] = {"value": batch, "unit": "s", "n": n_batch}
    return m


def final_line(correct, attempted, failed, metrics, names):
    """The one-line result: exactly the declared metrics, value and unit."""
    missing = [n for n in names if n not in metrics]
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    bad = [n for n in names if not valid_name(n)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]}
                        for n in names}}
