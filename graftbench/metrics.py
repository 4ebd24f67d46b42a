"""Turns one run's `result.json` into the benchmark's metrics.

End-to-end metrics come from the measured phase of a `--trace 0` run;
per-layer metrics from the traced operations of a `--trace 1` run, in
which every other operation of each kind is traced. Counts and times of a
layer are reported per operation, so runs of different lengths compare
directly.
"""
import json
import math
import statistics

MIN_BEYOND = 10


def tail(values, q):
    """The q-quantile by nearest rank and the number of samples beyond it.
    A tail is reportable only with at least MIN_BEYOND samples beyond."""
    xs = sorted(values)
    if not xs:
        return None, 0
    rank = max(1, math.ceil(q * len(xs)))
    return xs[rank - 1], len(xs) - rank


def latency_ms(op):
    """Operation latency: the batch's own duration for streaming batches
    (from the StreamingQueryListener), the client's wall time otherwise,
    and for a failed operation the wall time until it failed."""
    if op["ok"] and "latency_ms" in op["extra"]:
        return float(op["extra"]["latency_ms"])
    return (op["t1"] - op["t0"]) / 1e6


def measured(res):
    return [o for o in res["ops"] if o["phase"] == "m"]


def phase_wall_s(res):
    return (res["phase"]["t1"] - res["phase"]["t0"]) / 1e9


def setup_s(res):
    """Session build, table loads and warm-up, as timed in the JVM."""
    s = res["setup"]
    return s["session_s"] + sum(s["load_s"]) + s["warm_s"]


WRITING = ("commit_mix",)


def end_to_end(res, failed):
    """The end-to-end metrics of the measured phase; `failed` counts its
    failed or wrong-result operations. The p90 is refused with fewer than
    MIN_BEYOND samples beyond it; every attempted operation is a sample."""
    ops = measured(res)
    ok = [o for o in ops if o["ok"]]
    lat = [latency_ms(o) for o in ops]
    p90, beyond = tail(lat, 0.9)
    if beyond < MIN_BEYOND:
        raise SystemExit(f"op_p90_ms: only {beyond} samples beyond p90 "
                         f"({len(lat)} operations); need {MIN_BEYOND}")
    if res["workload"] in WRITING:
        written = res["phase"]["bytes_written"]
        ingested = sum(o["ingest"] for o in ops)
    else:
        written, ingested = res["load_bytes_written"], res["load_ingest"]
    return {
        "setup_s": (setup_s(res), "s"),
        "ops_per_s": (len(ok) / phase_wall_s(res), "1/s"),
        "op_p50_ms": (statistics.median(lat), "ms"),
        "op_p90_ms": (p90, "ms"),
        "ok_share": ((len(ops) - failed) / len(ops), "ratio"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
        "write_amp": (written / ingested, "ratio"),
        "space_amp": (res["disk_bytes"] / res["live_bytes"], "ratio"),
    }, {"samples": len(lat), "beyond_p90": beyond}


# ------------------------------------------------------------------ tracing

def self_times(spans):
    """Self time of each span: the time in which it is the innermost span
    running (deepest in the tree; of overlapping siblings, the later
    started). Per operation the self times therefore add up to the root
    span's duration exactly."""
    by_id = {s[0]: s for s in spans}
    depth = {}

    def d(s):
        if s[0] not in depth:
            p = by_id.get(s[1])
            depth[s[0]] = 0 if p is None else d(p) + 1
        return depth[s[0]]

    out = {s[0]: 0 for s in spans}
    by_op = {}
    for s in spans:
        by_op.setdefault(s[2], []).append(s)
    for group in by_op.values():
        cuts = sorted({t for s in group for t in (s[5], s[6])})
        for a, b in zip(cuts, cuts[1:]):
            live = [s for s in group if s[5] <= a and b <= s[6]]
            if live:
                top = max(live, key=lambda s: (d(s), s[5]))
                out[top[0]] += b - a
    return out


def attach_phases(spans, phases, next_id):
    """Plan phases (analysis, optimization, planning) as spans under the
    deepest benchmark span that encloses them in time."""
    added = []
    for name, a, b in phases:
        best = None
        for s in spans:
            if s[5] <= a and b <= s[6] and (best is None or s[6] - s[5] < best[6] - best[5]):
                best = s
        if best is not None:
            added.append([next_id, best[0], best[2], name, "plan", a, b])
            next_id += 1
    return added


LAYERS = ["client", "plan", "snapshot", "exec", "commit", "stream", "sink"]


def per_layer(res, cores):
    """The per-layer metrics of a traced run."""
    tr = res["trace"]
    ops = measured(res)
    tr_ops = [o for o in ops if o["traced"]]
    ids = {o["id"] for o in tr_ops}
    n = max(1, len(tr_ops))
    n_all = max(1, len(ops))
    spans = [s for s in tr["spans"] if s[2] in ids]
    spans += attach_phases(spans, tr["phases"], 1 + max([s[0] for s in spans] or [0]))
    selfs = self_times(spans)
    m = {}
    for layer in LAYERS:
        ns = sum(selfs[s[0]] for s in spans if s[4] == layer)
        m[f"self.{layer}_ms"] = (ns / 1e6 / n, "ms")
    # reconciliation: per op, the layer self times (the root span's own
    # being the untraced remainder) against the op's wall time as the
    # harness measured it around the traced call
    err, untraced, walls = 0.0, 0, 0
    for o in tr_ops:
        mine = [s for s in spans if s[2] == o["id"]]
        tot = sum(selfs[s[0]] for s in mine)
        wall = o["t1"] - o["t0"]
        if wall > 0:
            err = max(err, abs(tot - wall) / wall)
        untraced += sum(selfs[s[0]] for s in mine if s[1] == -1) + max(0, wall - tot)
        walls += wall
    m["trace.reconcile_err"] = (err, "ratio")
    m["trace.untraced_share"] = (untraced / (walls or 1), "ratio")
    # the cost of tracing: traced against untraced operations of the kinds
    # that have both (a kind with one operation per block is only traced),
    # interleaved in the same phase
    by_kind = {}
    for o in ops:
        by_kind.setdefault(o["kind"], ([], []))[0 if o["traced"] else 1].append(latency_ms(o))
    both = {k: v for k, v in by_kind.items() if v[0] and v[1]}
    t_lat = [x for t, _ in both.values() for x in t] or [0.0]
    u_lat = [x for _, u in both.values() for x in u] or [0.0]
    m["trace.overhead_p50_ms"] = (statistics.median(t_lat) - statistics.median(u_lat), "ms")
    t_sum = sum(len(t) * statistics.mean(t) for t, _ in both.values())
    u_sum = sum(len(t) * statistics.mean(u) for t, u in both.values())
    m["trace.overhead_ops_share"] = (1 - u_sum / t_sum if t_sum else 0.0, "ratio")

    by_id = {s[0]: s for s in spans}

    def span_ms(layer):
        """Wall time in the outermost spans of `layer`."""
        return sum(s[6] - s[5] for s in spans if s[4] == layer
                   and by_id.get(s[1], [None] * 5)[4] != layer) / 1e6

    commits = [s for s in spans if s[4] == "commit"]
    m["commit.ms"] = (span_ms("commit") / n, "ms")
    m["commit.calls"] = (len(commits) / n, "count")
    # the commit profile and storage counters cover the whole phase
    ph = res["phase"]
    prof0, prof1 = ph["prof0"], ph["prof1"]

    def delta(name, i):
        return prof1.get(name, [0, 0.0])[i] - prof0.get(name, [0, 0.0])[i]

    m["commit.retries"] = (
        max(0, delta("replayScan", 0) - delta("commit", 0)) / n_all, "count")
    for p in ("stagePlan", "stageJob", "footerHarvest", "publish", "replayScan",
              "validateStaged"):
        m[f"commit.{p}_ms"] = (delta(p, 1) * 1000 / n_all, "ms")
    m["store.files_written"] = (ph["files_written"] / n_all, "count")
    m["store.bytes_written"] = (ph["bytes_written"] / n_all, "bytes")
    m["store.manifest_bytes"] = (ph["manifest_bytes"] / n_all, "bytes")

    m["snapshot.ms"] = (span_ms("snapshot") / n, "ms")
    read = sum(o["extra"].get("files_read", 0) for o in tr_ops)
    live = sum(o["extra"].get("files_live", 0) for o in tr_ops)
    m["scan.files_read"] = (read / n, "count")
    m["scan.files_live"] = (live / n, "count")
    m["scan.prune_ratio"] = (1 - read / live if live else 0.0, "ratio")

    # Spark execution, attributed by job group, else by time
    windows = sorted((o["t0"], o["t1"], o["id"]) for o in tr_ops)

    def op_of(group, t):
        if group.startswith("op-"):
            i = int(group[3:])
            return i if i in ids else None
        for a, b, i in windows:
            if a <= t <= b:
                return i
        return None

    tasks = [t for t in tr["tasks"] if op_of(t[0], t[1]) is not None]
    jobs = [j for j in tr["jobs"] if op_of(j[0], j[1]) is not None]
    rows_out = sum(o["extra"].get("rows_out", 0) for o in tr_ops)
    m["scan.bytes_read"] = (sum(t[6] for t in tasks) / n, "bytes")
    m["scan.rows_read_per_row_out"] = (
        sum(t[7] for t in tasks) / rows_out if rows_out else 0.0, "ratio")
    wall_s = sum(o["t1"] - o["t0"] for o in tr_ops) / 1e9 or 1.0
    task_ms = sum(t[2] for t in tasks)
    m["exec.jobs"] = (len(jobs) / n, "count")
    m["exec.tasks"] = (len(tasks) / n, "count")
    m["exec.task_ms"] = (task_ms / n, "ms")
    m["exec.busy_share"] = (task_ms / 1000 / (wall_s * cores), "ratio")
    m["exec.shuffle_bytes"] = (sum(t[4] for t in tasks) / n, "bytes")
    m["exec.spill_bytes"] = (sum(t[5] for t in tasks) / n, "bytes")
    m["exec.gc_ms"] = (sum(t[3] for t in tasks) / n, "ms")

    plan = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for s in spans:
        if s[4] == "plan" and s[3] in plan:
            plan[s[3]] += (s[6] - s[5]) / 1e6
    for k, v in plan.items():
        m[f"plan.{k}_ms"] = (v / n, "ms")
    mv_ops = [o for o in tr_ops if o["kind"] == "mv"]
    m["plan.mv_hit_ratio"] = (
        sum(1 for o in mv_ops if o["extra"].get("mv_hit")) / len(mv_ops) if mv_ops else 0.0,
        "ratio")

    # streaming figures are per micro-batch
    batches = [o for o in tr_ops if "durations" in o["extra"]]
    nb = max(1, len(batches))
    for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit", "latestOffset"):
        name = "stream.batch_ms" if k == "triggerExecution" else f"stream.{k}_ms"
        m[name] = (sum(o["extra"]["durations"].get(k, 0) for o in batches) / nb, "ms")
    m["stream.rows_per_batch"] = (sum(o["extra"]["rows"] for o in batches) / nb, "count")

    # per-family latency over the traced operations and the timed cycles
    # after the phase
    cur = tr_ops + [o for o in res["ops"] if o["phase"] == "c"]
    for fam in ("dd", "tx", "ss", "graph"):
        xs = [latency_ms(o) for o in cur if o["extra"].get("family") == fam]
        m[f"query.{fam}_ms"] = (statistics.mean(xs) if xs else 0.0, "ms")
    cyc = {}
    for o in res["ops"]:
        if o["phase"] == "c":
            c = cyc.setdefault(o["extra"]["cycle"], [o["t0"], o["t1"]])
            c[0], c[1] = min(c[0], o["t0"]), max(c[1], o["t1"])
    walls = [(c[1] - c[0]) / 1e9 for _, c in sorted(cyc.items())]
    m["entry.cold_cycle_s"] = (walls[0] if walls else 0.0, "s")
    m["entry.warm_cycle_s"] = (walls[1] if len(walls) > 1 else 0.0, "s")
    return m


def load(path):
    with open(path) as f:
        return json.load(f)
