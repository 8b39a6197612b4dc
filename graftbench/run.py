#!/usr/bin/env python3
"""graft benchmark: runs one workload through the engine and prints its
metrics, ending with one JSON line.

Usage (from the repository root):
  python3 graftbench/run.py --workload batch_floor --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(Spark listeners on). See graftbench/README.md for the workloads and
metric definitions.
"""
import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import digest  # noqa: E402
import layers  # noqa: E402
from layers import pct  # noqa: E402

# The engine's tmpfs scratch roots (graft.Engine.scratchRoot / spillRoot).
SCRATCH_ROOTS = ["/dev/shm/graft-scratch", "/dev/shm/graft-spill"]
HEAP = "2g"
JVM_TIMEOUT_S = 165
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))

# p90s are printed with their sample counts but are not end-to-end
# metrics: no run has the 100 samples that put ten beyond the p90.
END_TO_END = [
    ("setup_s", "s"), ("mix_s", "s"), ("query_p50_s", "s"),
    ("latency_p50_s", "s"), ("peak_rss_mb", "MB"),
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def scratch_entries():
    out = {}
    for r in SCRATCH_ROOTS:
        out[r] = set(os.listdir(r)) if os.path.isdir(r) else None
    return out


def tree_bytes(p):
    if os.path.isfile(p) or os.path.islink(p):
        return os.lstat(p).st_size
    total = 0
    for d, _, fs in os.walk(p):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def clean_scratch(before):
    """Remove what this run added under the engine's scratch roots and
    return its size in MB."""
    left = 0
    for r, prior in before.items():
        if not os.path.isdir(r):
            continue
        new = set(os.listdir(r)) - (prior or set())
        for n in new:
            p = os.path.join(r, n)
            left += tree_bytes(p)
            if os.path.isdir(p) and not os.path.islink(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)
        if prior is None and not os.listdir(r):
            os.rmdir(r)
    return left / 1e6


def spark_jars():
    """The Spark jar directory the repository's own build compiles against."""
    sbt = open(os.path.join(ROOT, "build.sbt")).read()
    return re.search(r'^unmanagedBase := file\("([^"]+)"\)', sbt, re.M).group(1)


def sf_dir():
    """The sf0.1 test data directory TESTDATA.md lists."""
    doc = open(os.path.join(ROOT, "TESTDATA.md")).read()
    return re.search(r"^\| 0\.1 \| `([^`]+)`", doc, re.M).group(1).rstrip("/")


def build():
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), spark_jars()],
                       stdout=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build failed ({r.returncode})")


def java_cmd(args, work):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens.append(f"--add-opens=java.base/{p}=ALL-UNNAMED")
    return ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{os.path.join(HERE, 'build', 'classes')}:{spark_jars()}/*",
            "graftbench.Harness", *args]


def batch_metrics(rec, queries, work):
    """End-to-end metrics and op counts of a batch run."""
    bad = dict(rec["warm_errors"])
    expected = WORKLOADS["digests"]
    for q in queries:
        if q in bad:
            continue
        got = digest.of_dir(os.path.join(work, "out", q))
        if got != expected.get(q):
            bad[q] = f"digest {got} != expected {expected.get(q)}"
    ops = rec["ops"]
    failed = [o for o in ops if not o["ok"] or o["q"] in bad]
    walls = [o["wall_s"] for o in ops if o["ok"] and o["q"] not in bad]
    m = {
        "mix_s": pct(rec["pass_s"], 0.5),
        "query_p50_s": pct(walls, 0.5),
        # closed loop: an op is due when the previous one returns
        "latency_p50_s": pct(walls, 0.5),
    }
    info = {"passes": len(rec["pass_s"]), "ops": len(ops), "bad_queries": bad,
            "op_errors": {o["q"]: o["error"] for o in ops if not o["ok"]},
            "query_samples": len(walls), "query_p90_s": pct(walls, 0.9)}
    return m, len(ops), len(failed), info


def stream_metrics(rec):
    """End-to-end metrics and op counts of a stream_ingest run."""
    C = rec["chunk_rows"]
    batches = layers.stream_batches(rec)
    done = layers.chunk_commits(rec, batches)
    chunks = [c for c in rec["chunks"] if c["phase"] != "warm"]
    steady = [c for c in chunks if c["phase"] == "steady"]
    lat = [done[c["i"]]["append_end"] - c["due"] for c in steady if c["i"] in done]
    lat = [x / 1000.0 for x in lat]
    reads = rec["reads"]
    read_walls = [r["wall_s"] for r in reads if r["ok"]]
    # Backlog drain time, robust to one slow batch: the catch-up batches'
    # count times their median commit-to-commit interval.
    ph = rec["phases"]
    t = ph["catchup_start"]
    gaps = []
    for b in batches:
        if b["start"] >= ph["catchup_start"] and b["start"] < ph["catchup_end"] \
                and b.get("append_end") is not None:
            gaps.append(b["append_end"] - t)
            t = b["append_end"]
    drain_s = len(gaps) * pct(gaps, 0.5) / 1000.0
    correct = rec["exactly_once"] and rec["pairs_ok"] and rec["bad_combined_rows"] == 0
    failed_chunks = len(chunks) if not correct else \
        sum(1 for c in chunks if c["i"] not in done)
    failed = failed_chunks + sum(1 for r in reads if not r["ok"])
    m = {
        "mix_s": drain_s,
        "query_p50_s": pct(read_walls, 0.5),
        "latency_p50_s": pct(lat, 0.5),
    }
    backlog_events = rec["backlog_chunks"] * C
    invalid = []
    if not rec["caught_up"]:
        invalid.append("backlog not drained")
    if not rec["drained"]:
        invalid.append("released chunks not all committed")
    if rec["gen_lag_max_s"] > layers.GEN_LAG_LIMIT_S:
        invalid.append(f"generator fell behind by {rec['gen_lag_max_s']:.3f} s")
    read_lag = max([(r["start"] - r["due"]) / 1000.0 for r in reads] or [0.0])
    if read_lag > layers.READ_LAG_LIMIT_S:
        invalid.append(f"reader fell behind by {read_lag:.3f} s")
    info = {"catchup_events_per_s": backlog_events / drain_s if drain_s > 0 else 0.0,
            "stream_latency_samples": len(lat), "latency_p90_s": pct(lat, 0.9),
            "snapshot_read_samples": len(read_walls), "query_p90_s": pct(read_walls, 0.9),
            "exactly_once": rec["exactly_once"], "pairs_ok": rec["pairs_ok"],
            "bad_combined_rows": rec["bad_combined_rows"],
            "batches": len(batches), "reader_lag_max_s": read_lag,
            "gen_lag_max_s": rec["gen_lag_max_s"], "invalid": invalid}
    return m, len(chunks) + len(reads), failed, info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("graftbench: engine sources (src/main/scala) not found")
    sf = sf_dir()
    if not os.path.isdir(sf):
        raise SystemExit(f"graftbench: test data {sf} not found")
    build()

    wl = WORKLOADS["workloads"][a.workload]
    queries = wl.get("queries", [])
    work = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    before = scratch_entries()
    log(f"graftbench: workload={a.workload} seed={a.seed} seconds={a.seconds} "
        f"trace={a.trace} cores={cores()} heap={HEAP}")
    spawn_ms = time.time() * 1000.0
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, sf,
            str(cores()), repr(spawn_ms), ",".join(queries)]
    with open(os.path.join(work, "jvm.log"), "w") as jl:
        proc = subprocess.Popen(java_cmd(args, work), stdout=jl, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    jvm_s = time.time() - spawn_ms / 1000.0
    scratch_left = clean_scratch(before)
    res_path = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(res_path):
        log(open(os.path.join(work, "jvm.log")).read()[-3000:])
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"graftbench: harness JVM failed ({rc})")
    rec = json.load(open(res_path))

    if a.workload == "stream_ingest":
        m, attempted, failed, info = stream_metrics(rec)
    else:
        m, attempted, failed, info = batch_metrics(rec, queries, work)
    m["setup_s"] = rec["setup_from_spawn_s"]
    m["peak_rss_mb"] = rec["peak_rss_mb"]
    invalid = info.get("invalid", [])
    missing = [k for k, v in m.items() if not math.isfinite(v)]
    if missing:
        invalid.append("no samples for " + ", ".join(missing))
        m.update({k: 0.0 for k in missing})
    correct = failed == 0 and not invalid

    log(f"graftbench: seed={a.seed} attempted={attempted} failed={failed} "
        f"failed_ratio={failed / attempted:.4f} timed_s={rec['timed_s']:.2f} "
        f"jvm_s={jvm_s:.2f}")
    log("graftbench: " + json.dumps(info, sort_keys=True))
    if invalid:
        log("graftbench: RUN INVALID: " + "; ".join(invalid))
    units = dict(END_TO_END)
    end_to_end = {k: {"value": m[k], "unit": units[k]} for k, _ in END_TO_END}
    if a.trace:
        spans = layers.load_spans(os.path.join(work, "spans.jsonl"))
        per_layer, report = layers.per_layer(a.workload, rec, spans, cores(),
                                             scratch_left, work)
        metrics = per_layer
        for line in report:
            print(line)
        untraced = os.path.join(HERE, "work", f"last-{a.workload}-t0.json")
        if os.path.isfile(untraced):
            base = json.load(open(untraced))
            for k, _ in END_TO_END:
                print(f"trace overhead {k}: traced {m[k]:.4f} - untraced "
                      f"{base[k]['value']:.4f} = {m[k] - base[k]['value']:+.4f}")
        else:
            print("trace overhead: no untraced run of this workload in this checkout yet")
    else:
        metrics = end_to_end
        with open(os.path.join(HERE, "work", f"last-{a.workload}-t0.json"), "w") as f:
            json.dump(end_to_end, f)
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(f"verdict: {'CORRECT' if correct else 'NOT CORRECT'} "
          f"(failed {failed} of {attempted}{'; invalid run' if invalid else ''})")
    shutil.copy(os.path.join(work, "spans.jsonl"),
                os.path.join(HERE, "work", f"last-{a.workload}-t{a.trace}-spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
