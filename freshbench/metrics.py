"""Metric arithmetic of the freshness benchmark.

Pure functions over the raw observations the JVM harness writes (see
scala/FreshBench.scala): progress events of the measured query, the
generator's schedule, sampler rows, the sink check and, on traced runs,
scheduler and Catalyst records. Every time is wall-clock milliseconds
since the epoch unless a name says otherwise.
"""
import math
import statistics
from datetime import datetime

# name -> (unit, better); the order is the order of printing
END_TO_END = {
    "setup_s": ("s", "lower"),
    "staleness_mean_ms": ("ms", "lower"),
    "event_latency_p50_ms": ("ms", "lower"),
    "event_latency_p99_ms": ("ms", "lower"),
    "rows_per_s": ("rows/s", "higher"),
    "cpu_s": ("s", "lower"),
    "heap_live_peak_mb": ("MB", "lower"),
}

PER_LAYER = {
    "source.latest_offset_ms_mean": ("ms", "lower"),
    "source.latest_offset_ms_first": ("ms", "lower"),
    "source.read_amplification": ("ratio", "lower"),
    "source.segments_per_trigger": ("count", "lower"),
    "stream.trigger_ms_p50": ("ms", "lower"),
    "stream.trigger_ms_max": ("ms", "lower"),
    "stream.query_planning_ms_mean": ("ms", "lower"),
    "stream.wal_commit_ms_mean": ("ms", "lower"),
    "stream.commit_offsets_ms_mean": ("ms", "lower"),
    "stream.busy_frac": ("ratio", "lower"),
    "pipeline.add_batch_ms_p50": ("ms", "lower"),
    "pipeline.ms_per_krow": ("ms", "lower"),
    "pipeline.jobs_per_trigger": ("count", "lower"),
    "enrich.commit_ts_mismatch_frac": ("ratio", "lower"),
    "listener.staleness_avg_ms": ("ms", "lower"),
    "event_latency.samples": ("count", "higher"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "codegen.compile_ms": ("ms", "lower"),
    "codegen.classes": ("count", "lower"),
    "exec.task_cpu_s": ("s", "lower"),
    "exec.shuffle_write_mb": ("MB", "lower"),
    "exec.task_skew": ("ratio", "lower"),
    "exec.scheduler_delay_ms_mean": ("ms", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "jvm.jit_s": ("s", "lower"),
    "host.steal_pct": ("%", "lower"),
    "trace.callback_ms": ("ms", "lower"),
}

# micro-batch phases in the order Spark runs them inside one trigger
PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets"]


# ---- order statistics ------------------------------------------------------

def rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples (rounded
    before the ceiling, so 99.9 % of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p / 100.0 * n, 9)))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list (p in 0..100)."""
    s = sorted(values)
    return s[rank(len(s), p) - 1]


def weighted_percentile(pairs, p):
    """Nearest-rank percentile of (value, count) pairs."""
    pairs = sorted(pairs)
    r = rank(sum(c for _, c in pairs), p)
    seen = 0
    for v, c in pairs:
        seen += c
        if seen >= r:
            return v
    raise ValueError("empty sample")


def beyond(n, p):
    """How many of n samples lie strictly beyond the nearest-rank p-th."""
    return n - rank(n, p)


def highest_supported_percentile(n, candidates=(99.9, 99, 95, 90, 75, 50)):
    """The highest candidate percentile with at least ten samples beyond
    it, or None when even the median has fewer."""
    for p in candidates:
        if beyond(n, p) >= 10:
            return p
    return None


def median(values):
    return statistics.median(values) if values else 0.0


# ---- the progress log ------------------------------------------------------

def _ms(iso):
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _offset(o):
    return -1 if o is None else int(str(o).strip())


def batches(progress):
    """One record per committed micro-batch of the measured query:
    start/commit wall ms, offset range (lo, hi], input rows and phase
    durations. Idle progress reports (no new batch) are dropped."""
    out = {}
    for e in progress:
        p = e["progress"] if "progress" in e else e
        d = p["durationMs"]
        if "triggerExecution" not in d or "addBatch" not in d:
            continue
        src = p["sources"][0]
        start = _ms(p["timestamp"])
        out[p["batchId"]] = {
            "id": p["batchId"], "start": start,
            "commit": start + d["triggerExecution"],
            "lo": _offset(src.get("startOffset")),
            "hi": _offset(src.get("endOffset")),
            "input_rows": p["numInputRows"], "d": d,
        }
    bs = [out[k] for k in sorted(out)]
    for b in bs:
        b["rows"] = max(0, b["hi"] - b["lo"])
    return bs


def read_amplification(bs):
    """Rows the source produced (progress numInputRows) per row extracted."""
    rows = sum(b["rows"] for b in bs)
    return sum(b["input_rows"] for b in bs) / rows if rows else 0.0


def staleness_mean(bs, ts_ms, t0, t1, initial):
    """Time-weighted mean over [t0, t1] of t - uptodate(t), where
    uptodate(t) is the event time of the highest offset committed at or
    before t: a step function that moves at each batch commit.
    `ts_ms(offset)` maps an offset to its event time; `initial` is
    uptodate before the first commit."""
    up = initial
    steps = []
    for b in sorted(bs, key=lambda b: b["commit"]):
        if b["rows"] == 0:
            continue
        if b["commit"] <= t0:
            up = ts_ms(b["hi"])
        elif b["commit"] < t1:
            steps.append((b["commit"], ts_ms(b["hi"])))
    area = 0.0
    a = t0
    for c, nxt in steps + [(t1, None)]:
        area += (c - a) * ((a + c) / 2.0 - up)
        a, up = c, nxt
    return area / (t1 - t0)


def latency_pairs(bs, due_ms, lo_id, hi_id):
    """(latency ms, count) for events lo_id <= i < hi_id: each event is
    mapped to the batch whose offset range (lo, hi] holds it, and its
    latency is that batch's commit minus `due_ms(i)`. `due_ms` is either
    a function of the id or a constant. Events in no batch are missing
    and returned as the second value."""
    pairs = []
    covered = 0
    for b in bs:
        first = max(b["lo"] + 1, lo_id)
        last = min(b["hi"], hi_id - 1)
        if last < first:
            continue
        covered += last - first + 1
        if callable(due_ms):
            pairs.extend((b["commit"] - due_ms(i), 1) for i in range(first, last + 1))
        else:
            pairs.append((b["commit"] - due_ms, last - first + 1))
    return pairs, (hi_id - lo_id) - covered


def segments_spanned(lo, hi, seg_rows):
    """Number of segments holding the offsets (lo, hi]."""
    if hi <= lo:
        return 0
    return (hi // seg_rows) - ((lo + 1) // seg_rows) + 1


# ---- sampler series --------------------------------------------------------

def series_at(rows, col, t):
    """Value of a cumulative sampler column at time t (linear
    interpolation between the two nearest samples)."""
    prev = rows[0]
    for r in rows:
        if r[0] >= t:
            if r[0] == prev[0]:
                return r[col]
            f = (t - prev[0]) / (r[0] - prev[0])
            return prev[col] + f * (r[col] - prev[col])
        prev = r
    return rows[-1][col]


def live_heap_peak(after_gc, t0, t1):
    """Largest heap still in use after a collection in [t0, t1]; if no
    collection ran there, the last one before t0."""
    inside = [b for t, b in after_gc if t0 <= t <= t1]
    if inside:
        return max(inside)
    before = [b for t, b in after_gc if t < t0]
    return before[-1] if before else 0


def host_shares(host, t0, t1):
    """(steal %, busy %) of the host's CPU between t0 and t1 from
    /proc/stat jiffies: user nice system idle iowait irq softirq steal."""
    inside = [h for h in host if t0 <= h[0] <= t1]
    before = [h for h in host if h[0] <= t0]
    after = [h for h in host if h[0] >= t1]
    a = (before[-1] if before else host[0])
    b = (after[0] if after else host[-1])
    if inside and not after:
        b = inside[-1]
    d = [y - x for x, y in zip(a[1:], b[1:])]
    total = sum(d)
    if total <= 0:
        return 0.0, 0.0
    return 100.0 * d[7] / total, 100.0 * (total - d[3] - d[4]) / total


# ---- spans -----------------------------------------------------------------

def query_jobs(trace, query_id):
    """The Spark jobs one streaming query ran in its micro-batches."""
    return [j for j in trace.get("jobs", [])
            if j.get("query_id") == query_id and j.get("batch_id") is not None]


def spans(bs, trace, query_id):
    """Trace spans (name, start, end, id, parent) for the measured query:
    trigger -> its six phases laid out in execution order; under
    addBatch, each executed plan (its Catalyst phases first) and the Spark
    jobs of that batch (linked by the batch id local property, placed
    under the plan whose interval holds them) -> stages."""
    out = []
    add_spans = {}
    for b in bs:
        tid = "t%d" % b["id"]
        out.append({"name": "trigger", "id": tid, "parent": None,
                    "start": b["start"], "end": b["commit"], "batch": b["id"]})
        t = b["start"]
        for ph in PHASES:
            dur = b["d"].get(ph, 0)
            sid = "%s.%s" % (tid, ph)
            out.append({"name": ph, "id": sid, "parent": tid,
                        "start": t, "end": t + dur, "batch": b["id"]})
            if ph == "addBatch":
                add_spans[b["id"]] = (sid, t, t + dur)
            t += dur
    plan_spans = []
    for k, p in enumerate(trace.get("plans", [])):
        start, end = plan_interval(p)
        parent = next((sid for sid, a, z in add_spans.values()
                       if a <= start and end <= z + 50), None)
        if parent is None:
            continue
        pid = "p%d" % k
        plan_spans.append((pid, start, end))
        out.append({"name": "plan", "id": pid, "parent": parent,
                    "start": start, "end": end, "batch": None})
        for ph, (a, z) in sorted(p["phases"].items()):
            out.append({"name": "catalyst." + ph, "id": "%s.%s" % (pid, ph),
                        "parent": pid, "start": a, "end": z, "batch": None})
    stage_by_id = {s["stage"]: s for s in trace.get("stages", [])}
    for j in query_jobs(trace, query_id):
        bid = int(j["batch_id"])
        if bid not in add_spans:
            continue
        jid = "j%d" % j["job"]
        parent = next((pid for pid, a, z in plan_spans
                       if a <= j["start_ms"] and j["end_ms"] <= z + 5),
                      add_spans[bid][0])
        out.append({"name": "job", "id": jid, "parent": parent,
                    "start": j["start_ms"], "end": j["end_ms"], "batch": bid})
        for st in j["stages"]:
            s = stage_by_id.get(st)
            if s and s["start_ms"] > 0:
                out.append({"name": "stage", "id": "s%d" % st, "parent": jid,
                            "start": s["start_ms"], "end": s["end_ms"],
                            "batch": bid})
    return out


def plan_interval(plan):
    """(start, end) ms of one executed plan. The action's clock starts with
    optimization (analysis ran when the Dataset was built), and its
    duration covers planning and execution."""
    starts = [a for ph, (a, _) in plan["phases"].items() if ph != "analysis"]
    start = min(starts) if starts else min(a for a, _ in plan["phases"].values())
    return start, start + plan["duration_ns"] / 1e6


def self_times(span_list):
    """Per span name: total self time, i.e. each span's duration minus the
    part of its interval its children cover (children clipped to it)."""
    kids = {}
    for s in span_list:
        kids.setdefault(s["parent"], []).append(s)
    totals = {}
    for s in span_list:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in kids.get(s["id"], []))
        covered = 0.0
        cur_a = cur_z = None
        for a, z in ivs:
            if z <= a:
                continue
            if cur_z is None or a > cur_z:
                if cur_z is not None:
                    covered += cur_z - cur_a
                cur_a, cur_z = a, z
            else:
                cur_z = max(cur_z, z)
        if cur_z is not None:
            covered += cur_z - cur_a
        totals[s["name"]] = totals.get(s["name"], 0.0) + \
            (s["end"] - s["start"]) - covered
    return totals


# ---- the whole run ---------------------------------------------------------

class Bad(Exception):
    """The run cannot yield a metric (too few samples, nothing committed)."""


def section(raw):
    """The timed section: the steady window, or the backlog drain."""
    if raw["mode"] == "steady":
        return tuple(raw["window_ms"])
    return raw["qstart_ms"], raw["drained_ms"]


def section_batches(raw, bs):
    """Batches the per-trigger layer metrics average over: steady, the
    batches committed inside the window; backlog, every data batch
    after the first (the first pays the cold footer sweep)."""
    if raw["mode"] == "steady":
        w0, w1 = raw["window_ms"]
        return [b for b in bs if w0 <= b["commit"] <= w1 and b["rows"] > 0]
    return [b for b in bs if b["rows"] > 0][1:]


def end_to_end(raw):
    bs = batches(raw["progress"])
    base_ms = raw["base_us"] / 1000.0
    step_ms = raw["step_us"] / 1000.0

    def ts_ms(i):
        return base_ms + i * step_ms

    data = [b for b in bs if b["rows"] > 0]
    if not data:
        raise Bad("no batch committed any rows")
    t0, t1 = section(raw)
    if raw["mode"] == "steady":
        w0, w1 = raw["window_ms"]
        lo_id = max(0, math.ceil((w0 - base_ms) / step_ms))
        hi_id = min(raw["landed"], math.ceil((w1 - base_ms) / step_ms))
        pairs, missing = latency_pairs(bs, ts_ms, lo_id, hi_id)
        stale = staleness_mean(bs, ts_ms, w0, w1, ts_ms(-1))
        inside = [b for b in data if w0 <= b["commit"] <= w1]
        prev = [b for b in bs if b["commit"] < inside[0]["commit"]] if inside else []
        if len(inside) < 2 or not prev:
            raise Bad("fewer than two batches committed in the window")
        rate = sum(b["rows"] for b in inside) / \
            ((inside[-1]["commit"] - prev[-1]["commit"]) / 1000.0)
    else:
        w0, w1 = raw["window_ms"]
        pairs, missing = latency_pairs(bs, raw["qstart_ms"], 0, raw["landed"])
        stale = staleness_mean(bs, ts_ms, w0, w1, ts_ms(-1))
        if len(data) < 4:
            raise Bad("the backlog drained in fewer than four triggers")
        rate = median([b["rows"] / ((b["commit"] - a["commit"]) / 1000.0)
                       for a, b in zip(data[1:], data[2:])])
    n = sum(c for _, c in pairs)
    if (highest_supported_percentile(n) or 0) < 99:
        raise Bad("%d latency samples do not support a p99" % n)
    rows = raw["sampler"]["rows"]
    out = {
        "setup_s": median(raw["setup_s"]),
        "staleness_mean_ms": stale,
        "event_latency_p50_ms": weighted_percentile(pairs, 50),
        "event_latency_p99_ms": weighted_percentile(pairs, 99),
        "rows_per_s": rate,
        "cpu_s": (series_at(rows, 1, t1) - series_at(rows, 1, t0)) / 1e9,
        "heap_live_peak_mb": live_heap_peak(raw["sampler"]["after_gc"], t0, t1) / 1e6,
    }
    return out, {"latency_samples": n, "latency_missing": missing, "batches": bs}


def phase_ms(plans, phase):
    return sum(z - a for p in plans for ph, (a, z) in p["phases"].items()
               if ph == phase)


def per_layer(raw, bs, latency_samples):
    sec = section_batches(raw, bs)
    if not sec:
        raise Bad("no batch in the timed section")
    t0, t1 = section(raw)
    data = [b for b in bs if b["rows"] > 0]

    def ph(name):
        return [b["d"].get(name, 0) for b in sec]

    trace = raw.get("trace", {})
    sec_ids = {b["id"] for b in sec}
    jobs = [j for j in query_jobs(trace, raw["query_id"])
            if int(j["batch_id"]) in sec_ids]
    plans = [p for p in trace.get("plans", []) if t0 <= plan_interval(p)[1] <= t1]
    cols = trace.get("task_columns", [])
    tasks = [dict(zip(cols, t)) for t in trace.get("tasks", [])]
    tasks = [t for t in tasks if t0 <= t["finish_ms"] <= t1]
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish_ms"] - t["launch_ms"])
    skews = [max(v) / max(1.0, statistics.median(v))
             for v in by_stage.values() if len(v) >= 2]
    delays = [max(0, (t["finish_ms"] - t["launch_ms"]) - t["run_ms"] - t["deser_ms"]
                  - t["ser_ms"] - (t["finish_ms"] - t["getting_result_ms"]
                                   if t["getting_result_ms"] > 0 else 0))
              for t in tasks]
    rows = raw["sampler"]["rows"]
    cg0, cg1 = raw["codegen"]
    rows_sec = sum(b["rows"] for b in sec)
    lw0, lw1 = raw["window_ms"]
    lis = [s["staleness_ms"] for s in raw["listener"]
           if s["staleness_ms"] is not None and lw0 <= s["wall_ms"] <= lw1]
    seg = raw["seg_rows"]
    busy = sum(b["d"]["triggerExecution"] for b in bs if t0 <= b["start"] < t1)
    steal, _ = host_shares(raw["sampler"]["host"], t0, t1)
    return {
        "source.latest_offset_ms_mean": statistics.mean(ph("latestOffset")),
        "source.latest_offset_ms_first": data[0]["d"].get("latestOffset", 0),
        "source.read_amplification": read_amplification(sec),
        "source.segments_per_trigger":
            statistics.mean(segments_spanned(b["lo"], b["hi"], seg) for b in sec),
        "stream.trigger_ms_p50": median(ph("triggerExecution")),
        "stream.trigger_ms_max": max(ph("triggerExecution")),
        "stream.query_planning_ms_mean": statistics.mean(ph("queryPlanning")),
        "stream.wal_commit_ms_mean": statistics.mean(ph("walCommit")),
        "stream.commit_offsets_ms_mean": statistics.mean(ph("commitOffsets")),
        "stream.busy_frac": busy / (t1 - t0),
        "pipeline.add_batch_ms_p50": median(ph("addBatch")),
        "pipeline.ms_per_krow": sum(ph("addBatch")) / (rows_sec / 1000.0),
        "pipeline.jobs_per_trigger": len(jobs) / len(sec),
        "enrich.commit_ts_mismatch_frac":
            raw["check"]["commit_ts_mismatch"] / raw["check"]["landed"],
        "listener.staleness_avg_ms": statistics.mean(lis) if lis else 0.0,
        "event_latency.samples": latency_samples,
        "catalyst.optimization_ms": phase_ms(plans, "optimization") / len(sec),
        "catalyst.planning_ms": phase_ms(plans, "planning") / len(sec),
        "codegen.compile_ms": (cg1["compile_ns"] - cg0["compile_ns"]) / 1e6,
        "codegen.classes": cg1["classes"] - cg0["classes"],
        "exec.task_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "exec.shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
        "exec.task_skew": median(skews) if skews else 1.0,
        "exec.scheduler_delay_ms_mean": statistics.mean(delays) if delays else 0.0,
        "jvm.gc_s": (series_at(rows, 2, t1) - series_at(rows, 2, t0)) / 1000.0,
        "jvm.jit_s": (series_at(rows, 3, t1) - series_at(rows, 3, t0)) / 1000.0,
        "host.steal_pct": steal,
        "trace.callback_ms": raw.get("trace_callback_ms", 0.0),
    }


def environment(raw):
    """The per-run environment record: enough to tell a noisy run."""
    t0, t1 = section(raw)
    steal, busy = host_shares(raw["sampler"]["host"], t0, t1)
    late = raw.get("gen_late_ms") or [0.0]
    return {"nproc": raw["nproc"], "loadavg_start": raw["loadavg_start"],
            "loadavg_end": raw["loadavg_end"], "steal_pct": round(steal, 3),
            "host_busy_pct": round(busy, 3),
            "gen_late_ms_p50": percentile(late, 50), "gen_late_ms_max": max(late),
            "attempts_steal_pct": [round(x, 3) for x in raw["attempts_steal_pct"]],
            "session_s": raw["session_s"], "setup_runs_s": raw["setup_s"]}


def check(raw):
    """(attempted, failed): events landed, and events missing, duplicated
    or with wrong fields in the sink, over every attempt of the run."""
    cs = raw["checks"]
    return (sum(c["landed"] for c in cs),
            sum(c["missing"] + c["duplicated"] + c["wrong"] for c in cs))
