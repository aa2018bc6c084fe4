"""Pure functions that turn the harness's raw measurements into metrics.

Everything here works on plain lists and dicts so that it can be tested
without Spark (perfbench/tests/test_metrics.py).
"""
import math
import statistics

# percentiles the tail metric may report, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# a reported tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def tail_percentile(samples):
    """The highest percentile of TAIL_LADDER that has at least TAIL_BEYOND
    samples beyond it, by the nearest-rank rule.

    Returns (percentile, value, sample count). Below 20 samples not even
    the median has ten beyond it, and no tail can be read: the upper median
    is reported, labelled p50, and the sample count says why.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    for p in TAIL_LADDER:
        rank = math.ceil(p * n / 100.0 - 1e-9)  # 1-based nearest rank
        if n - rank >= TAIL_BEYOND:
            return p, xs[rank - 1], n
    return 50.0, xs[n // 2], n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the (start, end) intervals, each clipped to
    [lo, hi] when those are given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_self_times(spans, root_id):
    """Split the root span's wall time among span kinds.

    `spans` maps id -> (kind, start, end, parent). Each instant of the root
    span is charged to the kind of the deepest span open at that instant
    (its own span, when no child is open), so the parts sum to the root's
    duration even where sibling spans overlap. Where children do not
    overlap, a kind's share is the sum of its spans' self times.
    """
    depth = {}

    def depth_of(i):
        if i not in depth:
            parent = spans[i][3]
            depth[i] = 0 if i == root_id or parent not in spans else depth_of(parent) + 1
        return depth[i]

    def under_root(i):
        while i in spans:
            if i == root_id:
                return True
            i = spans[i][3]
        return False

    _, r_start, r_end, _ = spans[root_id]
    members = [i for i in spans if under_root(i)]
    events = []
    for i in members:
        _, s, e, _ = spans[i]
        s, e = max(s, r_start), min(e, r_end)
        if e > s:
            events.append((s, 1, i))
            events.append((e, 0, i))
    events.sort()
    open_spans = set()
    out = {}
    prev = r_start
    for t, is_start, i in events:
        if t > prev and open_spans:
            deepest = max(open_spans, key=lambda j: (depth_of(j), j))
            kind = spans[deepest][0]
            out[kind] = out.get(kind, 0.0) + (t - prev)
        prev = max(prev, t)
        if is_start:
            open_spans.add(i)
        else:
            open_spans.discard(i)
    return out


def skew(durations):
    """max / median of a stage's task times (1.0 for a single task)."""
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


MB = 1024.0 * 1024.0


def end_to_end(raw, checked_failures):
    """End-to-end metrics of an untraced run, the query latencies, and the
    figures the report prints beside them. `checked_failures` is the set of
    queries whose warm-up result failed the correctness check."""
    passes = raw["passes"]
    execs = raw["executions"]
    walls = [(p["end"] - p["start"]) / 1000.0 for p in passes]
    ok = [e for e in execs if e["error"] is None and e["query"] not in checked_failures]
    lat = [e["build_ms"] + e["action_ms"] for e in ok] or [float("nan")]
    tail_p, tail_v, tail_n = tail_percentile(lat)
    job_pass = {j["id"]: j["pass"] for j in raw["jobs"]}
    task_ms = {p["pass"]: 0.0 for p in passes}
    for t in raw["tasks"]:
        p = job_pass.get(t[1])
        if p in task_ms:
            task_ms[p] += t[4]
    metrics = {
        "setup_s": (raw["setup_s"], "s"),
        "pass_s": (statistics.median(walls), "s"),
        "task_s": (statistics.median(task_ms.values()) / 1000.0, "core-s"),
        "peak_heap_mb": (raw["peak_heap_mb"], "MB"),
    }
    # printed, not gated: with one pass of 3 to 7 queries the median falls
    # on whichever of two close queries ranks higher, which moved it by up
    # to 25% between runs of the same code
    latency = {
        "query_p50_ms": (statistics.median(lat), "ms"),
        "query_tail_ms": (tail_v, "ms"),
    }
    notes = {"passes": len(passes), "tail_percentile": tail_p, "tail_samples": tail_n}
    return metrics, latency, notes


def per_layer(raw, modules):
    """Per-layer metrics of a traced run: means over its timed passes."""
    cores = raw["context"]["nproc"]
    passes = {p["pass"]: p for p in raw["passes"]}
    qmod = raw["modules"]
    jobs = {j["id"]: j for j in raw["jobs"] if j["pass"] in passes}
    stages = [s for s in raw["stages"] if s["job"] in jobs]
    tasks = [t for t in raw["tasks"] if t[1] in jobs]
    execs = [e for e in raw["executions"] if e["pass"] in passes]
    spans = {s[0]: (s[1], s[3], s[4], s[5]) for s in raw["spans"]}
    pass_span = {int(s[2]): s[0] for s in raw["spans"] if s[1] == "pass"}

    per = {n: {} for n in passes}

    def add(n, key, v):
        per[n][key] = per[n].get(key, 0.0) + v

    for n, p in passes.items():
        wall_ms = p["end"] - p["start"]
        add(n, "traced.pass_s", wall_ms / 1000.0)
        add(n, "spark.codegen_ms", p["codegen_ms"])
        add(n, "spark.codegen_compiles", p["codegen_compiles"])
        add(n, "spark.gc_ms", p["gc_ms"])
        p_tasks = [t for t in tasks if jobs[t[1]]["pass"] == n]
        busy = union_length([(t[2], t[3]) for t in p_tasks], p["start"], p["end"])
        add(n, "spark.driver_only_ms", wall_ms - busy)
        run_ms = sum(t[4] for t in p_tasks)
        add(n, "spark.core_busy_frac", run_ms / (wall_ms * cores))
        by_stage = {}
        for t in p_tasks:
            by_stage.setdefault((t[0], t[1]), []).append(t[4])
        multi = [d for d in by_stage.values() if len(d) > 1]
        add(n, "spark.task_skew", skew(max(multi, key=sum)) if multi else 1.0)
        for kind, ms in layer_self_times(spans, pass_span[n]).items():
            add(n, "self.%s_s" % kind, ms / 1000.0)
        n_queries = sum(1 for e in execs if e["pass"] == n)
        n_jobs = sum(1 for j in jobs.values() if j["pass"] == n)
        add(n, "queries.jobs_per_query", n_jobs / n_queries if n_queries else 0.0)
        add(n, "spark.plan_ms", sum(ms for start, ms in raw["plans"] if p["start"] <= start <= p["end"]))
    for j in jobs.values():
        n = j["pass"]
        add(n, "spark.jobs", 1)
        if j["tables"]:
            add(n, "Tables.load_jobs", 1)
            add(n, "Tables.load_ms", (j["end"] or j["start"]) - j["start"])
        if j["phase"] == "build":
            add(n, "queries.build_jobs", 1)
    for s in stages:
        add(jobs[s["job"]]["pass"], "spark.stages", 1)
    for t in tasks:
        n = jobs[t[1]]["pass"]
        add(n, "spark.tasks", 1)
        add(n, "spark.task_cpu_s", t[5] / 1000.0)
        add(n, "spark.shuffle_read_mb", t[6] / MB)
        add(n, "spark.shuffle_write_mb", t[7] / MB)
        add(n, "spark.spill_disk_mb", t[8] / MB)
        add(n, "%s.task_s" % qmod.get(jobs[t[1]]["query"], "other"), t[4] / 1000.0)
    for e in execs:
        add(e["pass"], "queries.build_ms", e["build_ms"])
        add(e["pass"], "%s.wall_s" % e["module"], (e["build_ms"] + e["action_ms"]) / 1000.0)
    keys = set(k for d in per.values() for k in d)
    out = {k: mean([d.get(k, 0.0) for d in per.values()]) for k in keys}
    out["warmup.codegen_ms"] = raw["warmup_codegen_ms"]
    out["warmup.codegen_compiles"] = raw["warmup_codegen_compiles"]
    for m in modules:
        out.setdefault("%s.wall_s" % m, 0.0)
        out.setdefault("%s.task_s" % m, 0.0)
    return out
