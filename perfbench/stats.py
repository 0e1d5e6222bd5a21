"""Arithmetic of the benchmark: percentiles, span self time, and the
per-layer metrics of a traced run. Pure functions over the result file the
JVM writes (see perfbench/src/main/scala/perfbench/Main.scala)."""
import math
import statistics

# The highest percentile a run reports must have at least this many
# samples beyond it.
SAMPLES_BEYOND = 10


def percentile(xs, q):
    """The Harrell-Davis estimate of the q-quantile of xs: the mean of all
    order statistics, the i-th of n weighted by the chance that a
    Beta((n+1)q, (n+1)(1-q)) variable falls in ((i-1)/n, i/n]. A single
    order statistic jumps when the samples next to the quantile fall on
    either side of a gap between the latencies of two kinds of op; this
    estimate moves smoothly instead."""
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    if n == 1 or q >= 1.0:
        return s[-1]
    if q <= 0.0:
        return s[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    cdf = [beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum(x * (cdf[i + 1] - cdf[i]) for i, x in enumerate(s))


def beta_cdf(x, a, b):
    """The regularized incomplete beta function I_x(a, b), by its
    continued fraction (Lentz's method)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):
        return 1.0 - beta_cdf(1.0 - x, b, a)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x)) / a
    tiny = 1e-300
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -((a + m) * (a + b + m) * x) / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if abs(d) > tiny else tiny)
        c = 1.0 + num / c
        c = c if abs(c) > tiny else tiny
        f *= c * d
        if abs(1.0 - c * d) < 1e-14:
            return front * (f - 1.0)
    return front * (f - 1.0)


def samples_needed(q, beyond=SAMPLES_BEYOND):
    """Fewest samples for which `beyond` of them lie above the q-quantile."""
    return math.ceil(beyond / (1.0 - q) - 1e-6)


def supported(n, q, beyond=SAMPLES_BEYOND):
    return n >= samples_needed(q, beyond)


def highest_supported(n, beyond=SAMPLES_BEYOND):
    """The highest whole-percent quantile with at least `beyond` of n
    samples above it, or None when not even the median has."""
    for pct in range(99, 49, -1):
        if supported(n, pct / 100, beyond):
            return pct / 100
    return None


def union_length(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    return (end - start) - union_length(children, start, end)


PHASES = ("analysis", "optimization", "planning")


def trace_layers(rec):
    """Per-layer metrics from a traced run's records. Counts and times
    are per traced op unless the name says otherwise."""
    tr = rec["trace_records"]
    cores = rec["cores"]
    spans = tr["spans"]
    ops = [s for s in spans if s["kind"] == "op"]
    n = max(len(ops), 1)
    by_id = {s["id"]: s for s in spans}
    inner = [s for s in spans if s["kind"] in ("build", "action")]
    actions = [s for s in spans if s["kind"] == "action"]

    jobs = [j for j in tr["jobs"] if j["span"] in by_id and "end" in j]
    stage_job = {}
    for j in jobs:
        for st in j["stages"]:
            stage_job[st] = j
    stages = [s for s in tr["stages"] if s["stage"] in stage_job and s["start"] > 0]
    tasks = [t for t in tr["tasks"] if t["stage"] in stage_job]

    # Catalyst phase records of actions that started inside a traced span
    def owner(t):
        for s in inner:
            if s["start"] <= t <= s["end"]:
                return s
        return None

    plans = []
    for p in tr["phases"]:
        starts = [p[f"{ph}_start"] for ph in PHASES if f"{ph}_start" in p]
        if starts and owner(min(starts)) is not None:
            plans.append(p)

    def phase_ms(ph):
        xs = [p[f"{ph}_end"] - p[f"{ph}_start"] for p in plans if f"{ph}_start" in p]
        return sum(xs) / max(len(plans), 1)

    build_ms = sum(s["end"] - s["start"] for s in spans if s["kind"] == "build")
    op_ms = sum(s["end"] - s["start"] for s in ops)
    action_ms = sum(s["end"] - s["start"] for s in actions)
    build_jobs = [j for j in jobs if j["span"].endswith(":build")]
    # a schema read is a job whose stage is named after `spark.read.parquet`
    stage_name = {s["stage"]: s.get("name", "") for s in stages}
    schema_jobs = [j for j in build_jobs
                   if any(stage_name.get(st, "").startswith("parquet at") for st in j["stages"])]

    tasks_by_span = {}
    for t in tasks:
        tasks_by_span.setdefault(stage_job[t["stage"]]["span"], []).append((t["start"], t["end"]))
    gap_ms = sum(self_time((a["start"], a["end"]), tasks_by_span.get(a["id"], []))
                 for a in actions)

    stage_tasks = {}
    for t in tasks:
        stage_tasks.setdefault(t["stage"], []).append(t["end"] - t["start"])
    shares = [max(stage_tasks[s["stage"]]) / (s["end"] - s["start"])
              for s in stages
              if len(stage_tasks.get(s["stage"], [])) >= 2 and s["end"] > s["start"]]

    # self time of each span kind: op → build | action → plan phases and
    # jobs → stages
    plan_iv = [(p[f"{ph}_start"], p[f"{ph}_end"]) for p in plans for ph in PHASES
               if f"{ph}_start" in p]
    jobs_by_span = {}
    for j in jobs:
        jobs_by_span.setdefault(j["span"], []).append((j["start"], j["end"]))
    stages_by_job = {}
    for s in stages:
        stages_by_job.setdefault(stage_job[s["stage"]]["job"], []).append((s["start"], s["end"]))
    self_ms = {"op": 0.0, "build": 0.0, "action": 0.0, "plan": 0.0, "job": 0.0, "stage": 0.0}
    for s in spans:
        iv = (s["start"], s["end"])
        if s["kind"] == "op":
            kids = [(by_id[c]["start"], by_id[c]["end"])
                    for c in (s["id"] + ":build", s["id"] + ":action") if c in by_id]
        else:
            kids = jobs_by_span.get(s["id"], []) + [p for p in plan_iv
                                                     if s["start"] <= p[0] <= s["end"]]
        self_ms[s["kind"]] += self_time(iv, kids)
    self_ms["plan"] = sum(b - a for a, b in plan_iv)
    self_ms["job"] = sum(self_time((j["start"], j["end"]), stages_by_job.get(j["job"], []))
                         for j in jobs)
    self_ms["stage"] = sum(s["end"] - s["start"] for s in stages)

    # rows the range reads scanned per row they returned
    returned = {f"{s['pass']}.{s['index']}": s["returned"] for s in rec["samples"]
                if s["traced"] and s["returned"] >= 0}
    scanned = sum(t["in_rows"] for t in tasks
                  if stage_job[t["stage"]]["span"].split(":")[0] in returned)
    rows_back = sum(returned.values())

    tsum = lambda k: sum(t[k] for t in tasks)  # noqa: E731
    action_run_ms = sum(t["run_ms"] for t in tasks
                        if stage_job[t["stage"]]["span"].endswith(":action"))
    out = {
        "build.wall_s": build_ms / 1e3 / n,
        "build.share": build_ms / op_ms if op_ms else 0.0,
        "build.jobs": len(build_jobs) / n,
        "build.schema_jobs": len(schema_jobs) / n,
        "plan.analysis_ms": phase_ms("analysis"),
        "plan.optimization_ms": phase_ms("optimization"),
        "plan.planning_ms": phase_ms("planning"),
        "plan.actions": len(plans) / n,
        "sched.jobs": len(jobs) / n,
        "sched.stages": len(stages) / n,
        "sched.tasks": len(tasks) / n,
        "sched.tasks_per_stage": len(tasks) / len(stages) if stages else 0.0,
        "sched.gap_s": gap_ms / 1e3 / n,
        "exec.task_run_s": tsum("run_ms") / 1e3 / n,
        "exec.task_cpu_s": tsum("cpu_ns") / 1e9 / n,
        "exec.gc_s": tsum("gc_ms") / 1e3 / n,
        "exec.core_util": action_run_ms / (cores * action_ms) if action_ms else 0.0,
        "exec.straggler_share": statistics.mean(shares) if shares else 0.0,
        "io.scan_bytes": tsum("in_bytes") / n,
        "io.scan_rows": tsum("in_rows") / n,
        "io.shuffle_write_bytes": tsum("shuffle_write") / n,
        "io.shuffle_read_bytes": tsum("shuffle_read") / n,
        "io.spill_bytes": tsum("spill") / n,
        "log.rows_scanned_per_row_returned": scanned / rows_back if rows_back else 0.0,
        "trace.overhead": trace_overhead(rec["samples"]),
        "trace.ops": float(len(ops)),
    }
    for k, v in self_ms.items():
        out[f"self.{k}_s"] = v / 1e3 / n
    return out


def trace_overhead(samples):
    """Median over ops of (median traced latency / median untraced
    latency). An untraced op runs with no listener registered."""
    by_op = {}
    for s in samples:
        if s["ok"]:
            by_op.setdefault(s["op"], ([], []))[0 if s["traced"] else 1].append(s["lat"])
    ratios = [statistics.median(t) / statistics.median(u)
              for t, u in by_op.values() if t and u and statistics.median(u) > 0]
    return statistics.median(ratios) if ratios else 0.0
