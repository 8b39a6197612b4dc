"""Per-layer metrics of a traced run, computed from the harness's spans.

Ops are the units the harness times: a query call (batch_*), or a
micro-batch and a snapshot read (stream_ingest). Each Spark job span is
linked to its op by job group (the harness sets it to the op id; a
streaming query's jobs carry its run id and are placed in the micro-batch
whose interval holds them). Catalyst phase spans are placed by time.
Self time of a layer = its spans minus the part of them that child spans
cover: jobs first, then Catalyst phases, then the harness's construct and
TxLog spans; what is left of the op is the driver's.
"""
import bisect
import json
import math
import os

# A run whose generator or reader started an op later than this after it
# was due fell behind its schedule, and flags itself invalid.
GEN_LAG_LIMIT_S = 0.25
READ_LAG_LIMIT_S = 1.0

PER_LAYER = [
    ("engine.session_s", "s"),
    ("queries.construct_s", "s"), ("queries.eager_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.empty_task_ratio", "ratio"), ("exec.driver_gap_s", "s"),
    ("exec.task_s", "s"), ("exec.util", "ratio"), ("exec.sched_delay_s", "s"),
    ("exec.gc_s", "s"), ("exec.fetch_wait_s", "s"), ("exec.input_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"),
    ("self.queries_s", "s"), ("self.catalyst_s", "s"), ("self.jobs_s", "s"),
    ("self.txlog_s", "s"), ("self.driver_s", "s"), ("trace.coverage_min", "ratio"),
    ("trace.coverage_p50", "ratio"),
    ("streaming.batches", "count"), ("streaming.batch_p50_s", "s"),
    ("streaming.batch_p90_s", "s"), ("streaming.query_planning_s", "s"),
    ("streaming.get_batch_s", "s"), ("streaming.wal_commit_s", "s"),
    ("streaming.commit_offsets_s", "s"), ("streaming.add_batch_self_s", "s"),
    ("streaming.state_update_s", "s"), ("streaming.state_commit_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.state_mem_mb", "MB"),
    ("streaming.rows_in", "count"), ("streaming.rows_out", "count"),
    ("streaming.queue_wait_p50_s", "s"),
    ("txlog.append_p50_s", "s"), ("txlog.append_p90_s", "s"),
    ("txlog.snapshot_s", "s"), ("txlog.version_end", "count"),
    ("txlog.files_end", "count"), ("txlog.table_mb", "MB"),
    ("txlog.log_mb", "MB"), ("txlog.bytes_per_row", "B/row"),
    ("gen.lag_max_s", "s"), ("gen.chunks", "count"),
    ("harness.scratch_left_mb", "MB"),
]


def pct(values, q):
    """Percentile with linear interpolation; NaN without samples."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = (len(v) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def mean(values):
    return sum(values) / len(values) if values else 0.0


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union(intervals, lo=None, hi=None):
    """Merged intervals, clipped to [lo, hi]."""
    iv = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            iv.append((s, e))
    iv.sort()
    out = []
    for s, e in iv:
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def length(iv):
    return sum(e - s for s, e in iv)


def minus(a, b):
    """Length of interval set `a` not covered by interval set `b`."""
    return length(a) - length(intersect(a, b))


def intersect(a, b):
    out, i, j = [], 0, 0
    while i < len(a) and j < len(b):
        s, e = max(a[i][0], b[j][0]), min(a[i][1], b[j][1])
        if e > s:
            out.append((s, e))
        if a[i][1] < b[j][1]:
            i += 1
        else:
            j += 1
    return out


def stream_batches(rec):
    """Micro-batches that read input, in order, with cumulative rows."""
    cum = 0
    out = []
    for b in sorted(rec["batches"], key=lambda b: b["id"]):
        cum += b["rows"]
        out.append(dict(b, cum_rows=cum))
    return out


def chunk_commits(rec, batches):
    """chunk index -> the committed micro-batch that finished it. The file
    source takes chunks in arrival order and every chunk has the same row
    count, so cumulative input rows locate each chunk."""
    C = rec["chunk_rows"]
    ends = [b["cum_rows"] for b in batches]
    out = {}
    for c in rec["chunks"]:
        k = bisect.bisect_left(ends, (c["i"] + 1) * C)
        if k < len(batches) and batches[k].get("append_end") is not None:
            out[c["i"]] = batches[k]
    return out


def _ops(workload, rec, spans):
    """(op id, start, end) of every timed op."""
    if workload != "stream_ingest":
        return [(s["op"], s["start"], s["end"]) for s in spans if s["kind"] == "op"]
    t0 = rec["phases"]["catchup_start"]
    ops = [(f"batch-{b['id']}", b["start"], b["start"] + b["duration_ms"].get("triggerExecution", 0))
           for b in rec["batches"] if b["start"] >= t0]
    ops += [(s["op"], s["start"], s["end"]) for s in spans if s["kind"] == "read"]
    return sorted(ops, key=lambda o: o[1])


def _attribute(ops, spans):
    """op id -> {'jobs': [...], 'catalyst': [...]} for the timed ops."""
    by_id = {o[0]: {"op": o, "jobs": [], "catalyst": []} for o in ops}

    def containing(t):
        return next((o[0] for o in ops if o[1] <= t <= o[2]), None)

    for s in spans:
        if s["kind"] == "job":
            if s["op"] in by_id:
                op = s["op"]
            elif s["op"].startswith(("warm", "read")):
                op = None  # warm-up jobs
            else:
                op = containing(s["start"])  # a streaming query's run id
            if op is not None:
                by_id[op]["jobs"].append(s)
        elif s["kind"].startswith("catalyst."):
            op = containing(s["start"])
            if op is not None:
                by_id[op]["catalyst"].append(s)
    return by_id


def per_layer(workload, rec, spans, cores, scratch_left_mb, work):
    m = {k: 0.0 for k, _ in PER_LAYER}
    report = []
    m["engine.session_s"] = sum((s["end"] - s["start"]) / 1000.0
                                for s in spans if s["kind"] == "engine.session")
    m["harness.scratch_left_mb"] = scratch_left_mb
    ops = _ops(workload, rec, spans)
    att = _attribute(ops, spans)
    kids = {}
    for s in spans:
        if s["kind"] in ("construct", "action", "txlog.append", "txlog.read"):
            kids.setdefault((s["op"], s["kind"]), []).append(s)

    rows = []
    for op_id, a, b in ops:
        wall = b - a
        jobs = att[op_id]["jobs"]
        cat = att[op_id]["catalyst"]
        con = kids.get((op_id, "construct"), [])

        def iv(spans_):
            return union([(x["start"], x["end"]) for x in spans_], a, b)
        j_iv, c_iv, con_iv = iv(jobs), iv(cat), iv(con)
        tx_iv = iv(kids.get((op_id, "txlog.append"), []) + kids.get((op_id, "txlog.read"), []))
        act_iv = iv(kids.get((op_id, "action"), []))
        jc = union(j_iv + c_iv)
        covered = union(jc + con_iv + tx_iv + act_iv)
        r = {"wall": wall,
             "construct": length(con_iv),
             "eager_jobs": sum(1 for j in jobs for c in con
                               if c["start"] <= j["start"] <= c["end"]),
             "self_jobs": length(j_iv),
             "self_catalyst": minus(c_iv, j_iv),
             "self_queries": minus(con_iv, jc),
             "self_txlog": minus(tx_iv, jc),
             "self_driver": wall - length(union(jc + con_iv + tx_iv)),
             "coverage": length(covered) / wall if wall > 0 else 1.0,
             "driver_gap": wall - length(j_iv)}
        for ph in ("analysis", "optimization", "planning"):
            r[ph] = sum(c["end"] - c["start"] for c in cat if c["kind"] == f"catalyst.{ph}")
        for k in ("stages", "tasks", "empty_tasks", "task_ms", "gc_ms", "fetch_wait_ms",
                  "sched_delay_ms", "input_bytes", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
            r[k] = sum(j.get(k, 0) for j in jobs)
        r["jobs"] = len(jobs)
        rows.append(r)

    def per_op(key, scale=1.0):
        return mean([r[key] for r in rows]) * scale

    ms, mb = 1 / 1000.0, 1 / 1e6
    if workload != "stream_ingest":
        m["queries.construct_s"] = per_op("construct", ms)
        m["queries.eager_jobs"] = per_op("eager_jobs")
    m["catalyst.analysis_s"] = per_op("analysis", ms)
    m["catalyst.optimization_s"] = per_op("optimization", ms)
    m["catalyst.planning_s"] = per_op("planning", ms)
    m["exec.jobs"] = per_op("jobs")
    m["exec.stages"] = per_op("stages")
    m["exec.tasks"] = per_op("tasks")
    tasks = sum(r["tasks"] for r in rows)
    m["exec.empty_task_ratio"] = sum(r["empty_tasks"] for r in rows) / tasks if tasks else 0.0
    m["exec.driver_gap_s"] = per_op("driver_gap", ms)
    m["exec.task_s"] = per_op("task_ms", ms)
    if workload == "stream_ingest":
        ph = rec["phases"]
        busy = (ph["drained_at"] - ph["catchup_start"]) / 1000.0
    else:
        busy = sum(r["wall"] for r in rows) / 1000.0
    m["exec.util"] = sum(r["task_ms"] for r in rows) / 1000.0 / (busy * cores) if busy else 0.0
    m["exec.sched_delay_s"] = per_op("sched_delay_ms", ms)
    m["exec.gc_s"] = per_op("gc_ms", ms)
    m["exec.fetch_wait_s"] = per_op("fetch_wait_ms", ms)
    m["exec.input_mb"] = per_op("input_bytes", mb)
    m["exec.shuffle_read_mb"] = per_op("shuffle_read_bytes", mb)
    m["exec.shuffle_write_mb"] = per_op("shuffle_write_bytes", mb)
    m["exec.spill_mb"] = per_op("spill_bytes", mb)
    m["self.queries_s"] = per_op("self_queries", ms)
    m["self.catalyst_s"] = per_op("self_catalyst", ms)
    m["self.jobs_s"] = per_op("self_jobs", ms)
    m["self.txlog_s"] = per_op("self_txlog", ms)
    m["self.driver_s"] = per_op("self_driver", ms)
    cov = [r["coverage"] for r in rows]
    m["trace.coverage_min"] = min(cov) if cov else 0.0
    m["trace.coverage_p50"] = pct(cov, 0.5)
    report.append(f"layers: {len(rows)} ops; self time per op (s): "
                  f"queries {m['self.queries_s']:.4f}, catalyst {m['self.catalyst_s']:.4f}, "
                  f"jobs {m['self.jobs_s']:.4f}, txlog {m['self.txlog_s']:.4f}, "
                  f"driver {m['self.driver_s']:.4f}; "
                  f"mean op wall {per_op('wall', ms):.4f}")
    report.append(f"layers: spans cover {m['trace.coverage_p50']:.3f} of the median op's wall "
                  f"(lowest {m['trace.coverage_min']:.3f})")

    if workload == "stream_ingest":
        _stream(m, rec, spans, work, report)
    m = {k: v if math.isfinite(v) else 0.0 for k, v in m.items()}
    return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER}, report


def _stream(m, rec, spans, work, report):
    s = 1 / 1000.0
    t0 = rec["phases"]["catchup_start"]
    batches = stream_batches(rec)
    timed = [b for b in batches if b["start"] >= t0]
    dur = lambda b, k: b["duration_ms"].get(k, 0) * s  # noqa: E731
    m["streaming.batches"] = len(timed)
    m["streaming.batch_p50_s"] = pct([dur(b, "triggerExecution") for b in timed], 0.5)
    m["streaming.batch_p90_s"] = pct([dur(b, "triggerExecution") for b in timed], 0.9)
    m["streaming.query_planning_s"] = pct([dur(b, "queryPlanning") for b in timed], 0.5)
    m["streaming.get_batch_s"] = pct([dur(b, "getBatch") for b in timed], 0.5)
    m["streaming.wal_commit_s"] = pct([dur(b, "walCommit") for b in timed], 0.5)
    m["streaming.commit_offsets_s"] = pct([dur(b, "commitOffsets") for b in timed], 0.5)
    appends = [(b["append_end"] - b["append_start"]) * s for b in timed
               if b.get("append_end") is not None]
    m["streaming.add_batch_self_s"] = pct(
        [dur(b, "addBatch") - (b["append_end"] - b["append_start"]) * s
         for b in timed if b.get("append_end") is not None], 0.5)
    m["streaming.state_update_s"] = pct([b["state_update_ms"] * s for b in timed], 0.5)
    m["streaming.state_commit_s"] = pct([b["state_commit_ms"] * s for b in timed], 0.5)
    if batches:
        m["streaming.state_rows"] = batches[-1]["state_rows"]
        m["streaming.state_mem_mb"] = batches[-1]["state_mem_bytes"] / 1e6
    m["streaming.rows_in"] = sum(b["rows"] for b in batches)
    m["streaming.rows_out"] = rec["sink_rows"]
    done = chunk_commits(rec, batches)
    steady = [c for c in rec["chunks"] if c["phase"] == "steady" and c["i"] in done]
    m["streaming.queue_wait_p50_s"] = pct(
        [(done[c["i"]]["start"] - c["due"]) * s for c in steady], 0.5)
    m["txlog.append_p50_s"] = pct(appends, 0.5)
    m["txlog.append_p90_s"] = pct(appends, 0.9)
    m["txlog.snapshot_s"] = pct([(x["end"] - x["start"]) * s for x in spans
                                 if x["kind"] == "txlog.read" and x["op"] != "read-warm"], 0.5)
    table = os.path.join(work, "table")
    data = log = files = 0
    for d, _, fs in os.walk(table):
        for f in fs:
            size = os.path.getsize(os.path.join(d, f))
            if os.path.basename(d) == "_txlog":
                log += size
            elif f.endswith(".parquet"):
                data += size
                files += 1
    m["txlog.version_end"] = rec["txlog_version"]
    m["txlog.files_end"] = files
    m["txlog.table_mb"] = data / 1e6
    m["txlog.log_mb"] = log / 1e6
    m["txlog.bytes_per_row"] = data / rec["sink_rows"] if rec["sink_rows"] else 0.0
    m["gen.lag_max_s"] = rec["gen_lag_max_s"]
    m["gen.chunks"] = sum(1 for c in rec["chunks"] if c["phase"] != "warm")
    report.append(f"stream: {len(timed)} timed micro-batches, p50 {m['streaming.batch_p50_s']:.3f} s; "
                  f"addBatch self {m['streaming.add_batch_self_s']:.3f} s, "
                  f"txlog.append p50 {m['txlog.append_p50_s']:.3f} s, "
                  f"snapshot {m['txlog.snapshot_s']:.3f} s")
