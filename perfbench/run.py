#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py compare <result.json> <result.json>

Run from the repository root. The first run builds the program and the
harness (sbt, offline). Each run generates its inputs from the seed, drives
the engine in one JVM through its public entry points, checks every output,
prints a report on stderr and, as the last stdout line, one JSON object
with the metrics. See README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import bench_lib as B  # noqa: E402

WORKLOADS = ("olap_mix", "pipeline_heavy", "collector_ingest")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
WORK = os.path.join(HERE, ".work")
XMX = "3g"
JVM_TIMEOUT_S = 165
# collector_ingest tiers, run in this order: (name, samples per second,
# length in base sample sets, bursts). "high" and "ref" are open loop at a
# fixed rate; the base sample set is sized so that the two together take
# about --seconds. "ref" is the reference rate the latencies are reported
# at; it runs after "high", which leaves the streaming path JIT-warm.
# "drain" has no rate: it appends a stream three times as long (the base set
# is its prefix) in equal bursts, each once the one before it is committed,
# and its median burst drain rate measures capacity.
INGEST_TIERS = (("high", 25000, 1, 0), ("ref", 10000, 1, 0), ("drain", 0, 3, 12))
# olap_mix runs a fixed number of rounds, sized from --seconds with this
# nominal round time (a round took 8-12 s on a 4-core box). Fixed work keeps
# the op mix and the sample count the same on both sides of an A/B.
OLAP_ROUND_S = 8.0
# The tail percentile each workload reports, fixed so that a slower program
# (fewer samples) cannot switch to a lower percentile. Ingest has thousands
# of samples beyond p99; olap_mix's 12 read keys leave 3 beyond p75, which
# the report flags (the run budget allows no more reads).
TAIL_Q = {"olap_mix": 0.75, "collector_ingest": 0.99}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

E2E = ("setup_s", "p50_s", "tail_s", "write_s", "rate_per_s", "live_heap_mb")
E2E_UNITS = {"setup_s": "s", "p50_s": "s", "tail_s": "s", "write_s": "s",
             "rate_per_s": "1/s", "live_heap_mb": "MB"}
LAYER = ("build_s", "plan_s", "exec_s", "gap_s", "jobs", "stages",
         "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "gc_s",
         "executor_cpu_s", "cpu_busy_ratio", "cold_surcharge_s")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# --- build ------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(f"{PROGRAM_SRC}/**/*.scala", recursive=True)
                   + glob.glob(f"{HERE}/src/**/*.scala", recursive=True)
                   + [f"{HERE}/build.sbt", f"{HERE}/project/build.properties"])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation the `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compiles the checkout's program sources with the harness unless the
    classes already match them."""
    stamp = source_stamp()
    stamp_file = os.path.join(CLASSES, ".source-stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env.setdefault("SBT_OPTS", opts)
    log("[perfbench] building program + harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        log(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"[perfbench] built in {time.time() - t0:.1f} s")
    return stamp


# --- inputs -----------------------------------------------------------------

def olap_rounds(seconds):
    """Whole rounds only, so that every run times the same mix; as many as
    take about `seconds` at OLAP_ROUND_S each."""
    return max(2, round(seconds / OLAP_ROUND_S))


def ingest_rounds(seconds):
    per_s = 1 / sum(1 / r for _, r, _, bursts in INGEST_TIERS if not bursts)
    return max(2, round(seconds * per_s / B.INGEST_KEYS))


def write_inputs(workload, seed, seconds, in_dir):
    os.makedirs(in_dir)

    def put(name, lines):
        with open(os.path.join(in_dir, name), "w") as fh:
            fh.writelines(f"{line}\n" for line in lines)

    if workload == "olap_mix":
        put("ops.txt", (f"{c} {k}" for c, k in B.olap_sequence(seed, olap_rounds(seconds))))
        put("pool.txt", B.OLAP_READ_POOL + B.OLAP_WRITE_POOL)
    elif workload == "pipeline_heavy":
        put("keys.txt", B.HEAVY_KEYS)
    else:
        rounds = ingest_rounds(seconds)
        events = B.ingest_events(seed, rounds=rounds * max(t[2] for t in INGEST_TIERS))
        put("events.csv", (f"{i},{k},{ts},{v!r}" for i, k, ts, v in events))
        put("rates.txt", (f"{name} {r} {rounds * m * B.INGEST_KEYS} {bursts}"
                          for name, r, m, bursts in INGEST_TIERS))
        return events


# --- run --------------------------------------------------------------------

def run_jvm(workload, in_dir, out_dir, seconds, trace, cores):
    run_dir = os.path.dirname(out_dir)
    for d in ("sink", "local", "tmp"):
        os.makedirs(os.path.join(run_dir, d))
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(run_dir, "sink"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = (["java", *ADD_OPENS, f"-Xmx{XMX}",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "perfbench.Main", workload,
            in_dir, out_dir, os.path.join(HERE, "fixture"), str(cores),
            str(seconds), str(trace), str(int(time.time() * 1000))])
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=jlog,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            log(fh.read()[-4000:])
        raise SystemExit(f"harness JVM failed ({code})")


def read_json(path):
    with open(path) as fh:
        return json.load(fh)


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


# --- metrics ----------------------------------------------------------------

def latency(values, q, name, report):
    """Median and the `q` percentile of `values`, reported with the sample
    count; the tail is flagged when fewer than ten samples lie beyond it."""
    n = len(values)
    p50, tail = B.percentile(values, 0.5), B.percentile(values, q)
    beyond = n - math.ceil(q * n)
    report[f"{name}_p50_s"] = (p50, "s", n)
    report[f"{name}_p{q * 100:g}_s"] = (tail, "s" if beyond >= 10 else
                                        f"s ({beyond} beyond)", n)
    return p50, tail


def olap_metrics(ops, report):
    timed = [o for o in ops if o["pass"] == "timed"]
    writes = [o for o in timed if o["cls"] == "write"]
    latency([o["wall_s"] for o in timed if o["cls"] == "read"], TAIL_Q["olap_mix"],
            "olap_read", report)
    w50 = B.percentile([o["wall_s"] for o in writes], 0.5)
    by_key = {}
    for o in timed:
        by_key.setdefault((o["cls"], o["key"]), []).append(o["wall_s"])
    # the keys differ in cost by up to 3x, and a key's two calls by up to
    # a third; the tail over the per-key medians does not jump between keys
    # the way the tail over the pooled calls does, and the mean of the
    # middle half of them does not jump between the middle keys
    medians = {ck: statistics.median(v) for ck, v in by_key.items()}
    reads = sorted(m for (c, _), m in medians.items() if c == "read")
    _, rtail = latency(reads, TAIL_Q["olap_mix"], "olap_read_key_median", report)
    r50 = statistics.fmean(reads[len(reads) // 4:len(reads) - len(reads) // 4])
    write = statistics.fmean(m for (c, _), m in medians.items() if c == "write")
    rate = len(timed) / sum(o["wall_s"] for o in timed)
    report["olap_read_key_median_iqm_s"] = (r50, "s", len(reads))
    report["olap_write_p50_s"] = (w50, "s", len(writes))
    report["olap_write_key_median_mean_s"] = (write, "s", len(writes))
    report["olap_ops_per_s"] = (rate, "ops/s", len(timed))
    return {"p50_s": r50, "tail_s": rtail, "write_s": write, "rate_per_s": rate}


def heavy_metrics(ops, report):
    passes = {}
    for o in ops:
        if o["pass"] in ("cold", "warm"):
            passes.setdefault(o["op"].split("_")[0], []).append(o)
    cold = sum(o["wall_s"] for o in passes.pop("cold00"))
    warm = [sum(o["wall_s"] for o in p) for p in passes.values()]
    warm_ops = [o for p in passes.values() for o in p]
    rate = len(warm_ops) / sum(warm)
    report["heavy_cold_pass_s"] = (cold, "s", 1)
    report["heavy_warm_pass_s"] = (statistics.median(warm), "s", len(warm))
    report["heavy_ops_per_s"] = (rate, "ops/s", len(warm_ops))
    return {"p50_s": statistics.median(warm), "tail_s": cold, "rate_per_s": rate}


def block_commits(t):
    """Per block the generator sent, (offset, lo, hi, sent) with the end of
    the sink commit of the micro-batch that holds it, in stream order. The
    batch is found from the stream offsets in the progress events."""
    end_offset = {p["batch"]: int(p["end_offset"]) for p in t["progress"]
                  if p["end_offset"] not in (None, "-1")}
    commits = sorted((end_offset[int(b)], s1) for b, _, s1 in t["sink"])
    out, ci = [], 0
    for off, lo, hi, sent in sorted((int(o), int(lo), int(hi), s) for o, lo, hi, s in t["blocks"]):
        while commits[ci][0] < off:
            ci += 1
        out.append((off, lo, hi, sent, commits[ci][1]))
    return out


def trigger_seconds(t):
    return [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in t["progress"]
            if p["rows"] > 0]


def ingest_tier(t):
    """Latencies and backlog of one open-loop rate tier."""
    rate, n, t0 = t["rate"], t["n"], t["t0_s"]
    blocks = block_commits(t)
    lat, done = [], []
    # latencies of the first tenth of the samples are left out: they carry
    # the query's start (state store creation, first plan), not steady state
    skip = n // 10
    for _, lo, hi, _, c in blocks:
        lat.extend(c - (t0 + i / rate) for i in range(max(lo, skip), hi))
        done.append((c, hi - lo))
    done.sort()
    horizon = n / rate
    grid = [horizon * k / 200 for k in range(1, 201)]
    backlog, di, committed = [], 0, 0
    for g in grid:
        while di < len(done) and done[di][0] - t0 <= g:
            committed += done[di][1]
            di += 1
        backlog.append(min(n, int(g * rate) + 1) - committed)
    late = max(sent - (t0 + lo / rate) for _, lo, _, sent, _ in blocks)
    return {"lat": lat, "growing": B.backlog_growing(backlog, rate),
            "backlog_max": max(backlog), "late": late, "triggers": trigger_seconds(t)}


def drain_tier(t):
    """Per burst, its rows and the time from handing it over to the end of
    its sink commit."""
    bursts = [(hi - lo, c - sent) for _, lo, hi, sent, c in block_commits(t)]
    return {"bursts": bursts, "drain": B.burst_drain_rate(bursts),
            "triggers": trigger_seconds(t)}


def sink_rows(sink_dir):
    import pyarrow.parquet as pq
    tab = pq.read_table(sink_dir, columns=["userId", "ts", "ratePerSec"])
    ts = tab.column("ts").cast("timestamp[us]").cast("int64").to_pylist()
    return list(zip(tab.column("userId").to_pylist(), ts,
                    tab.column("ratePerSec").to_pylist()))


def ingest_metrics(tiers, events, report, failures):
    """Checks every tier's sink against the reference rates of the samples
    it was offered, and the samples all tiers share against one digest, so
    the output cannot depend on the rate or the micro-batch boundaries."""
    n_base = min(t["n"] for t in tiers)
    expected = B.rows_digest(B.reference_rates(events[:n_base]))
    stats = {}
    for t in tiers:
        rows = sink_rows(t["sink_dir"])
        checks = [("sink", rows, expected)]
        if t["n"] > n_base:
            checks = [("sink", rows, B.rows_digest(B.reference_rates(events[:t["n"]]))),
                      ("shared samples", B.before_round(rows, n_base // B.INGEST_KEYS), expected)]
        for what, got_rows, want in checks:
            got = B.rows_digest(got_rows)
            if got != want:
                failures.append(f"ingest tier {t['tier']}: {what} digest {got} != reference {want}")
        name = t["tier"]
        if t["bursts"]:
            stats[name] = s = drain_tier(t)
            report[f"ingest.{name}.burst_rows"] = (s["bursts"][0][0], "rows", len(s["bursts"]))
            report[f"ingest.{name}.drain_rows_per_s"] = (s["drain"], "rows/s",
                                                         len(s["bursts"]) - len(s["bursts"]) // 4)
            continue
        stats[name] = s = ingest_tier(t)
        report[f"ingest.{name}.latency_p50_s"] = (B.percentile(s["lat"], 0.5), "s", len(s["lat"]))
        report[f"ingest.{name}.backlog_rows_max"] = (s["backlog_max"], "rows", 200)
        report[f"ingest.{name}.generator_late_s"] = (s["late"], "s", len(t["blocks"]))
        report[f"ingest.{name}.backlog_growing"] = (s["growing"], "", 200)
    p50, tail = latency(stats["ref"]["lat"], TAIL_Q["collector_ingest"],
                        "ingest_latency", report)
    ref = next(t for t in tiers if t["tier"] == "ref")
    sink_p50 = statistics.median(s1 - s0 for _, s0, s1 in ref["sink"])
    drain = next(stats[t["tier"]]["drain"] for t in tiers if t["bursts"])
    sustained = B.sustained_rate([(t["rate"], stats[t["tier"]]["growing"])
                                  for t in tiers if not t["bursts"]], drain)
    report["ingest_sink_write_p50_s"] = (sink_p50, "s", len(ref["sink"]))
    report["ingest_sustained_rows_per_s"] = (sustained, "rows/s", len(tiers))
    report["ingest.digest"] = (expected, "", len(tiers))
    return {"p50_s": p50, "tail_s": tail, "write_s": sink_p50,
            "rate_per_s": sustained}, stats


def check_digests(ops, expected, failures):
    for o in ops:
        if o["error"]:
            failures.append(f"{o['op']} {o['key']}: {o['error']}")
        elif o["key"] not in expected:
            failures.append(f"{o['op']} {o['key']}: no expected digest")
        elif o["digest"] != expected[o["key"]]["digest"]:
            failures.append(f"{o['op']} {o['key']}: digest {o['digest']} != "
                            f"{expected[o['key']]['digest']}")


# --- traced run -------------------------------------------------------------

def batch_trace(workload, ops, counters, cores, report):
    timed = [o for o in ops if o["pass"] in ("timed", "warm")]
    layers = B.batch_layers(timed, counters, cores)
    n, gap = B.reconcile(timed)
    report["trace.ops_reconciled"] = (n, "ops", n)
    report["trace.gap_s"] = (gap, "s", n)
    if workload == "olap_mix":
        for cls in ("read", "write"):
            ops_cls = [o for o in timed if o["cls"] == cls]
            sub = B.batch_layers(ops_cls, counters, cores)
            keep = ("build_s", "plan_s", "exec_s", "jobs", "tasks") if cls == "read" \
                else ("build_s", "exec_s")
            for k in keep:
                report[f"olap.{cls}.{k}"] = (sub[k], "per op", len(ops_cls))
        prefix = "olap"
        cold = None
    else:
        by_pass = {}
        for o in timed:
            by_pass.setdefault(o["op"].split("_")[0], []).append(o)
        cold_ops = {o["key"]: o["wall_s"] for o in ops if o["pass"] == "cold"}
        warm_by_key = {}
        for o in timed:
            warm_by_key.setdefault(o["key"], []).append(o["wall_s"])
        per_op = B.op_counters(counters)
        for g, keys in B.HEAVY_GROUPS.items():
            for k in ("build_s", "exec_s", "jobs", "stages", "tasks"):
                vals = []
                for p in by_pass.values():
                    sel = [o for o in p if o["key"] in keys]
                    vals.append(sum(o[k] if k.endswith("_s") else per_op.get(o["op"], {}).get(k, 0)
                                    for o in sel))
                report[f"heavy.{g}.{k}"] = (statistics.median(vals), "per pass", len(vals))
            report[f"heavy.{g}.cold_surcharge_s"] = (
                sum(cold_ops[k] - statistics.median(warm_by_key[k]) for k in keys), "s", 1)
        prefix = "heavy"
        cold = sum(cold_ops.values()) - statistics.median(
            [sum(o["wall_s"] for o in p) for p in by_pass.values()])
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes",
              "gc_s", "executor_cpu_s", "cpu_busy_ratio"):
        report[f"{prefix}.{k}"] = (layers[k], "per op" if k != "cpu_busy_ratio" else "", n)
    return layers, cold


def ingest_trace(tiers, stats, counters, cores, report):
    by_group = {c["group"]: c for c in counters}
    trig = [p for t in tiers for p in t["progress"] if p["rows"] > 0]
    ref = next(t for t in tiers if t["tier"] == "ref")
    ref_trig = [p for p in ref["progress"] if p["rows"] > 0]

    def dur(ps, k):
        return [p["duration_ms"].get(k, 0) / 1e3 for p in ps]

    for name, k in (("latest_offset_s", "latestOffset"), ("query_planning_s", "queryPlanning"),
                    ("add_batch_s", "addBatch"), ("wal_commit_s", "walCommit"),
                    ("commit_offsets_s", "commitOffsets"), ("trigger_p50_s", "triggerExecution")):
        report[f"ingest.{name}"] = (statistics.median(dur(ref_trig, k)), "s", len(ref_trig))
    report["ingest.state_commit_s"] = (statistics.median(p["state_commit_ms"] / 1e3 for p in ref_trig),
                                       "s", len(ref_trig))
    report["ingest.state_rows"] = (ref_trig[-1]["state_rows"], "rows", 1)
    report["ingest.state_bytes"] = (ref_trig[-1]["state_bytes"], "bytes", 1)
    sinks = [s1 - s0 for _, s0, s1 in ref["sink"]]
    report["ingest.sink_write_s"] = (statistics.median(sinks), "s", len(sinks))
    report["ingest.backlog_rows_max"] = (stats["ref"]["backlog_max"], "rows", 200)
    report["ingest.generator_late_s"] = (stats["ref"]["late"], "s", len(ref["blocks"]))
    comps = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets", "getBatch")
    gaps = [p["duration_ms"].get("triggerExecution", 0) / 1e3
            - sum(p["duration_ms"].get(k, 0) for k in comps) / 1e3 for p in trig]
    zero = dict.fromkeys(B.COUNTER_FIELDS, 0)
    tot = {f: sum(by_group.get(t["run_id"], zero)[f] for t in tiers) for f in B.COUNTER_FIELDS}
    wall = sum(sum(dur(t["progress"], "triggerExecution")) for t in tiers)
    nt = len(trig)
    layers = {
        "build_s": statistics.fmean(t["build_s"] for t in tiers),
        "plan_s": statistics.fmean(dur(trig, "queryPlanning")),
        "exec_s": statistics.fmean(dur(trig, "addBatch")),
        "gap_s": statistics.fmean(gaps),
        **{f: tot[f] / nt for f in B.COUNTER_FIELDS},
        "cpu_busy_ratio": tot["executor_cpu_s"] / (wall * cores),
        "cold_surcharge_s": statistics.fmean(
            s["triggers"][0] - statistics.median(s["triggers"]) for s in stats.values()),
    }
    report["trace.triggers_reconciled"] = (nt, "triggers", nt)
    report["trace.gap_s"] = (sum(gaps), "s", nt)
    return layers


# --- main -------------------------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def jdk():
    r = subprocess.run(["java", "-version"], stderr=subprocess.PIPE, text=True)
    return r.stderr.splitlines()[0] if r.stderr else "unknown"


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def run(args):
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit(f"program sources not found under {PROGRAM_SRC}; "
                         "run from the root of a full checkout")
    stamp = build()
    ncores = cores()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    events = write_inputs(args.workload, args.seed, args.seconds, in_dir)
    os.makedirs(out_dir)
    run_jvm(args.workload, in_dir, out_dir, args.seconds, args.trace, ncores)

    with open(os.path.join(out_dir, "run.json")) as fh:
        jrun = json.load(fh)
    ops = read_jsonl(os.path.join(out_dir, "ops.jsonl"))
    counters = read_jsonl(os.path.join(out_dir, "counters.jsonl"))
    spans = read_jsonl(os.path.join(out_dir, "spans.jsonl"))
    report, failures = {}, []
    if args.workload == "collector_ingest":
        tiers = jrun["tiers"]
        e2e, stats = ingest_metrics(tiers, events, report, failures)
        attempted = len(tiers)
    else:
        with open(os.path.join(HERE, "expected_digests.json")) as fh:
            expected = json.load(fh)
        check_digests(ops, expected, failures)
        e2e = (olap_metrics if args.workload == "olap_mix" else heavy_metrics)(ops, report)
        attempted = len(ops)
    e2e["setup_s"] = statistics.median(jrun["setup_s"])
    e2e["live_heap_mb"] = jrun["live_heap_mb"]
    report["setup_s"] = (e2e["setup_s"], "s", len(jrun["setup_s"]))
    report["live_heap_mb"] = (e2e["live_heap_mb"], "MB", 1)
    report["failed_op_ratio"] = (len(failures) / attempted, "ratio", attempted)

    posture = {
        "workload": args.workload, "nproc": ncores, "master": jrun["master"],
        "shuffle_partitions": jrun["confs"]["spark.sql.shuffle.partitions"],
        "initial_partition_num":
            jrun["confs"]["spark.sql.adaptive.coalescePartitions.initialPartitionNum"],
        "xmx": XMX, "jdk": jdk(), "seconds": args.seconds, "fixture": "sf0.01",
        "seed": args.seed, "commit": commit(), "source_stamp": stamp,
        "trace": args.trace,
    }
    result = {"posture": posture, "e2e": e2e,
              "report": {k: list(v) for k, v in report.items()}, "failures": failures}

    metrics = {k: {"value": e2e[k], "unit": E2E_UNITS[k]} for k in E2E if k in e2e}
    if args.trace:
        if args.workload == "collector_ingest":
            layers = ingest_trace(jrun["tiers"], stats, counters, ncores, report)
        else:
            layers, cold = batch_trace(args.workload, ops, counters, ncores, report)
            layers["cold_surcharge_s"] = cold if cold is not None else \
                jrun["setup_s"][0] - statistics.median(jrun["setup_s"][1:])
        for kind, t in sorted(B.self_times(spans).items()):
            report[f"trace.self.{kind}_s"] = (t, "s", sum(s["kind"] == kind for s in spans))
        untraced = os.path.join(WORK, "results", f"{args.workload}_seed{args.seed}_trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)
            for k in E2E:
                report[f"trace.overhead.{k}"] = (e2e[k] / base["e2e"][k] - 1, "ratio", 1)
        else:
            report["trace.overhead"] = ("no untraced result for this seed", "", 0)
        result["layers"] = layers
        metrics = {k: {"value": layers[k], "unit": "s" if k.endswith("_s") else
                       ("bytes" if k.endswith("bytes") else
                        "ratio" if k.endswith("ratio") else "count")} for k in LAYER}
        result["report"] = {k: list(v) for k, v in report.items()}

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}_seed{args.seed}_trace{args.trace}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    log(f"[perfbench] {args.workload} seed={args.seed} nproc={ncores} trace={args.trace}")
    for k, (v, unit, n) in report.items():
        log(f"  {k:42s} {fmt(v):>14s} {unit:8s} n={n}")
    for f in failures:
        log(f"  FAILED {f}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 1 if failures else 0


def compare(paths):
    a, b = (read_json(p) for p in paths)
    try:
        B.check_comparable(a["posture"], b["posture"])
    except B.PostureMismatch as e:
        log(str(e))
        return 3
    for k in (k for k in E2E if k in a["e2e"]):
        va, vb = a["e2e"][k], b["e2e"][k]
        print(f"{k:14s} {va:12.6g} {vb:12.6g} {vb / va - 1:+8.1%}")
    return 0


def main(argv):
    if argv[:1] == ["compare"]:
        if len(argv) != 3:
            raise SystemExit("usage: run.py compare <result.json> <result.json>")
        return compare(argv[1:])
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
