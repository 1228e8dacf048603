"""Pure logic of the benchmark: seeded inputs, percentile and sustained-rate
rules, posture records and the trace reducer. `run.py` does the I/O; the
tests in `test_bench.py` exercise this module without a JVM."""
import hashlib
import math
import random
import statistics

# --- workloads --------------------------------------------------------------

# olap_mix draws from a fixed pool: one key from each light family (two
# joins), so every run touches the same keys and only their order and the
# placement of the writes depend on the seed. The sequence is made of
# rounds that hold every pool key exactly once, and a run stops only at the
# end of a round, so each run's mix of keys is the same. Each pool key runs
# once untimed before the window, so the timed ops are warm.
OLAP_READ_POOL = [
    "q_agg_groupby", "a_agg_approx_distinct", "q_ts_sessionize", "q_win_rank",
    "q_join_broadcast", "q_join_asof_native", "q_fn_string", "q_filter_conj",
    "q_scan_pushdown", "q_sql_correlated", "q_except", "q_ab_test",
]
# The write class: a parquet sink (graft.ops.Relational), a DSv2 write and a
# MERGE INTO through the V2 catalog (graft.sources). Each runs twice per
# round, so a run has enough writes for a steady median.
OLAP_WRITE_POOL = ["q_sink_parquet", "q_source_dsv2_write", "q_sql_merge_into"]
WRITES_PER_ROUND = 2 * OLAP_WRITE_POOL
# A round is len(WRITES_PER_ROUND) blocks of WRITE_EVERY ops, each block one
# write at a seeded position among reads.
WRITE_EVERY = 1 + len(OLAP_READ_POOL) // len(WRITES_PER_ROUND)
ROUND = len(OLAP_READ_POOL) + len(WRITES_PER_ROUND)

HEAVY_KEYS = [
    "q_graph_2core", "q_graph_bfs", "q_graph_cc_star", "q_graph_pagerank",
    "q_dedup_cluster", "a_dedup_minhash", "q_ab_mannwhitney",
    "q_agg_percentile_weighted",
]
HEAVY_GROUPS = {
    "graph": ["q_graph_2core", "q_graph_bfs", "q_graph_cc_star", "q_graph_pagerank"],
    "dedup": ["q_dedup_cluster", "a_dedup_minhash"],
    "rank": ["q_ab_mannwhitney", "q_agg_percentile_weighted"],
}

# collector_ingest: 10 000 counter keys (10x StreamBench's 1 000), each
# sampled INGEST_ROUNDS times. Sample timestamps advance 10 s per round with
# a seeded jitter below 10 s, so each key's samples arrive in event-time
# order whatever the micro-batch boundaries are.
INGEST_KEYS = 10_000
INGEST_ROUNDS = 4
INGEST_BASE_MS = 1_704_067_200_000  # 2024-01-01 00:00 UTC


def olap_sequence(seed, rounds):
    """`rounds` rounds of (class, key) pairs. Each round holds a seeded
    permutation of the read pool and of WRITES_PER_ROUND; every block of
    WRITE_EVERY ops has one write at a seeded position."""
    rng = random.Random(f"olap:{seed}")
    out = []
    for _ in range(rounds):
        reads, writes = list(OLAP_READ_POOL), list(WRITES_PER_ROUND)
        rng.shuffle(reads)
        rng.shuffle(writes)
        for w in writes:
            block = [("read", reads.pop()) for _ in range(WRITE_EVERY - 1)]
            block.insert(rng.randrange(WRITE_EVERY), ("write", w))
            out.extend(block)
    return out


def ingest_events(seed, keys=INGEST_KEYS, rounds=INGEST_ROUNDS):
    """Cumulative-counter samples as (event_id, key, ts_ms, value), in
    stream order. A counter occasionally resets to a small value."""
    rng = random.Random(f"ingest:{seed}")
    value = [float(rng.randrange(1000)) for _ in range(keys)]
    out = []
    for r in range(rounds):
        order = list(range(keys))
        rng.shuffle(order)
        for k in order:
            if r:
                value[k] = (float(rng.randrange(50)) if rng.random() < 0.02
                            else value[k] + rng.randrange(1, 500))
            ts = INGEST_BASE_MS + r * 10_000 + rng.randrange(10_000)
            out.append((len(out), k, ts, value[k]))
    return out


def reference_rates(events):
    """The rates `StreamOps.streamingRates` must emit for `events`: per key,
    the increase over the previous sample (a drop means the counter reset,
    so the increase is the new value) divided by the elapsed seconds. The
    first sample of a key emits nothing. Rows are (key, ts_us, rate)."""
    last = {}
    out = []
    for _, k, ts_ms, v in events:
        us = ts_ms * 1000
        if k in last:
            p_us, p_v = last[k]
            inc = v if v < p_v else v - p_v
            out.append((k, us, inc / ((us - p_us) / 1e6)))
        last[k] = (us, v)
    return out


def before_round(rows, rounds):
    """The rate rows whose timestamp falls in the first `rounds` rounds.
    `ingest_events` draws round by round, so these are exactly the rows
    `reference_rates` gives for the first `rounds` rounds of the stream."""
    cutoff_us = (INGEST_BASE_MS + rounds * 10_000) * 1000
    return [r for r in rows if r[1] < cutoff_us]


def rows_digest(rows):
    """Order-insensitive digest of exact rows: count plus a hash of the
    sorted rows (floats by their exact repr)."""
    h = hashlib.sha256()
    for r in sorted(rows):
        h.update(repr(r).encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()[:32]}"


# --- statistics -------------------------------------------------------------

PERCENTILE_LADDER = (0.5, 0.75, 0.9, 0.99)


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a share
    `q` of the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_percentile(n):
    """The highest ladder percentile with at least ten samples beyond it,
    or None when even the median has fewer."""
    best = None
    for q in PERCENTILE_LADDER:
        if n - math.ceil(q * n) >= 10:
            best = q
    return best


def backlog_growing(backlog, rate, skip=0.1, ratio=1.5, slack_s=0.02):
    """True when a backlog series, sampled evenly over the offered window,
    grows: after dropping the first `skip` share (start-up), the mean of the
    second half exceeds `ratio` times the first half's mean plus `slack_s`
    seconds of input (two generator ticks). A backlog that only oscillates
    with the trigger period stays flat under this rule."""
    s = backlog[int(len(backlog) * skip):]
    if len(s) < 4:
        raise ValueError("backlog series too short")
    half = len(s) // 2
    first, second = statistics.fmean(s[:half]), statistics.fmean(s[half:])
    return second > ratio * first + rate * slack_s


def burst_drain_rate(bursts):
    """Median drain rate over equal bursts, each given as (rows, seconds
    from handing it over to the end of its sink commit). The first quarter
    of the bursts is left out: the first carries the query's start (state
    store creation, first plan), and the next few still speed up."""
    return statistics.median(rows / s for rows, s in bursts[len(bursts) // 4:])


def sustained_rate(tiers, drain):
    """Highest input rate whose backlog does not grow. `tiers` holds
    (rate, growing) per fixed-rate tier. `drain` is the rate at which the
    pipeline drains equal bursts, one micro-batch each: a steady input at
    that rate brings one burst while the burst before it is processed, so
    it is kept up with too. The higher of the two counts."""
    return max([r for r, growing in tiers if not growing] + [drain])


# --- posture ----------------------------------------------------------------

# Two results are comparable only if these match: the host shape and the
# session posture. Seed and commit are recorded but are what an A/B varies.
POSTURE_KEYS = ("workload", "nproc", "master", "shuffle_partitions",
                "initial_partition_num", "xmx", "jdk", "seconds", "fixture")


class PostureMismatch(Exception):
    pass


def check_comparable(a, b):
    """Raises PostureMismatch naming every posture field that differs."""
    diff = [f"{k}: {a.get(k)!r} vs {b.get(k)!r}"
            for k in POSTURE_KEYS if a.get(k) != b.get(k)]
    if diff:
        raise PostureMismatch("refusing to compare results with different "
                              "postures: " + "; ".join(diff))


# --- trace reducer ----------------------------------------------------------

COUNTER_FIELDS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "fetch_wait_s", "gc_s",
                  "executor_cpu_s")


def self_times(spans):
    """Per span kind, the summed self time: each span's duration minus the
    part its children cover."""
    children = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = sum(c["end_s"] - c["start_s"] for c in children.get(s["id"], []))
        out[s["kind"]] = out.get(s["kind"], 0.0) + (s["end_s"] - s["start_s"]) - covered
    return out


def op_counters(counters):
    """Listener counters summed per op id over the op's timed phases
    (build, plan, exec); the digest check is excluded."""
    out = {}
    for c in counters:
        op, _, phase = c["group"].rpartition("/")
        if not op or phase == "check":
            continue
        acc = out.setdefault(op, dict.fromkeys(COUNTER_FIELDS, 0))
        for f in COUNTER_FIELDS:
            acc[f] += c[f]
    return out


def reconcile(ops):
    """Per op, build + plan + exec against its wall; the remainder is
    time spent outside the three spans. Returns (ops, summed gap)."""
    gaps = [o["wall_s"] - o["build_s"] - o["plan_s"] - o["exec_s"] for o in ops]
    return len(ops), sum(gaps)


def batch_layers(ops, counters, cores):
    """Per-op means of the phase times and listener counters over `ops`,
    plus the executor CPU share of the ops' wall on `cores` cores."""
    if not ops:
        return {}
    per_op = op_counters(counters)
    n = len(ops)
    out = {f"{k}_s": sum(o[f"{k}_s"] for o in ops) / n for k in ("build", "plan", "exec")}
    _, gap = reconcile(ops)
    out["gap_s"] = gap / n
    zero = dict.fromkeys(COUNTER_FIELDS, 0)
    for f in COUNTER_FIELDS:
        out[f] = sum(per_op.get(o["op"], zero)[f] for o in ops) / n
    wall = sum(o["wall_s"] for o in ops)
    out["cpu_busy_ratio"] = out["executor_cpu_s"] * n / (wall * cores)
    return out
