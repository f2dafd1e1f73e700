"""Metrics from one run's raw samples (result.json) and spans (trace.json).

End-to-end metrics come from the harness's own clocks and, for ingest, the
stream's progress reports and the sink's batch ids, so the untraced run
needs no listener. Per-layer metrics come from the traced run's spans,
attributed to a query by its timed interval.
"""
import collections
import datetime
import statistics

def tail(values):
    """(value, percentile): the highest percentile that still has at least
    ten samples beyond it. Below 31 samples that percentile sits at or
    near the median, so the maximum stands in for it."""
    xs = sorted(values)
    n = len(xs)
    if n < 31:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def calm(items, steal, limit):
    """The items that lost at most `limit` of their runnable CPU time to
    steal (a sample taken while the hypervisor ran other guests measures
    them, not the program); the least-stolen half when fewer than half
    are."""
    kept = [x for x in items if steal(x) <= limit]
    if 2 * len(kept) < len(items):
        kept = sorted(items, key=steal)[:(len(items) + 1) // 2]
    return kept


def median(values):
    return statistics.median(values) if values else float("nan")


def _failures_closed(result):
    msgs = []
    for s in result["samples"]:
        if s["error"]:
            msgs.append(f"{s['name']} ({s['phase']}): {s['error']}")
        for q in s["leaked_streams"]:
            msgs.append(f"{s['name']} ({s['phase']}): leaked active stream {q}")
    for q in result["leaked_streams"]:
        msgs.append(f"run: leaked active stream {q}")
    return msgs


def closed(result):
    """End-to-end metrics of a closed-loop run: (metrics, attempted, failures)."""
    samples = result["samples"]
    timed = [s for s in samples if s["phase"] == "timed"]
    failures = _failures_closed(result)
    # a failed query counts as missing any latency limit
    for s in timed:
        s["wall"] = float("inf") if s["error"] else (s["t1"] - s["t0"]) / 1000
    used = calm(timed, lambda s: s["steal"], result["steal_limit"])
    wall = [s["wall"] for s in used]
    # a query with no calm sample keeps all of its own
    per_query = {n: [s["wall"] for s in used if s["name"] == n] or
                 [s["wall"] for s in timed if s["name"] == n]
                 for n in sorted({s["name"] for s in timed})}
    medians = {k: median(v) for k, v in per_query.items()}
    t, pct = tail(wall)
    slowest = max(medians, key=medians.get)
    e2e = {
        "setup_s": ((result["timed_t0_ms"] - result["jvm_start_ms"]) / 1000, "s",
                    "JVM start to the first timed query (session, warm-up)"),
        "pass_s": (sum(medians.values()), "s",
                   f"sum over {len(per_query)} queries of each one's median over "
                   f"{result['passes']} passes"),
        "latency_p50_s": (median(wall), "s",
                          f"query_p50_s over {len(wall)} (query, pass) samples"),
        # Over a handful of query types a high percentile of the pooled
        # samples lands between the slowest types' clusters and jumps as
        # the sample count moves, so the gated tail is the slowest query's
        # own median. The pooled tail follows.
        "latency_tail_s": (medians[slowest], "s", f"median of the slowest query, {slowest}"),
        "query_tail_s": (t, "s", f"p{pct:.0f} of {len(wall)} (query, pass) samples"),
        "samples_used": (len(used), "count", f"of {len(timed)} timed; the rest ran while the "
                         f"hypervisor stole > {result['steal_limit']:.0%} of their runnable CPU time"),
        "heap_live_mb": (result["heap_live_bytes"] / 2**20, "MB",
                         "heap in use after a full GC at the end of the timed region"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024, "MB", "JVM VmHWM"),
        "per_query": medians,
    }
    return e2e, len(samples), failures


def _epoch_ms(iso):
    ts = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000


def _batches(result):
    """Progress reports of batches that wrote sink rows: batch id → report
    with start and end epoch ms and the batch's sink rows added (the
    reports' own input-row counts run high: the sink's emptiness probe
    reads some rows twice)."""
    rows = collections.Counter(b for _, b in result["sink_batches"])
    out = {}
    for p in result["progress"]:
        if rows[p["batchId"]]:
            start = _epoch_ms(p["timestamp"])
            out[p["batchId"]] = dict(p, start_ms=start, rows=rows[p["batchId"]],
                                     end_ms=start + p["durationMs"]["triggerExecution"])
    return out


def _slope(points):
    """Least-squares slope of (t_ms, y) points, per second."""
    if len(points) < 2:
        return 0.0
    mt = sum(t for t, _ in points) / len(points)
    my = sum(y for _, y in points) / len(points)
    den = sum((t - mt) ** 2 for t, _ in points)
    return 0.0 if den == 0 else 1000 * sum((t - mt) * (y - my) for t, y in points) / den


def ingest_frames(result):
    """Per frame: (id, phase, due ms, written ms, latency s or inf)."""
    batches = _batches(result)
    batch_of = {fid: b for fid, b in result["sink_batches"]}
    out = []
    for fid, phase, due, written in result["frames"]:
        b = batches.get(batch_of.get(fid))
        out.append((fid, phase, due, written,
                    (b["end_ms"] - due) / 1000 if b else float("inf")))
    return out


def _backlog_points(result, frames, t0, t1):
    """(batch start, frames written but not yet consumed) for every batch
    that starts in [t0, t1]."""
    batches = sorted(_batches(result).values(), key=lambda b: b["batchId"])
    written = sorted(f[3] for f in frames)
    points, consumed, i = [], 0, 0
    for b in batches:
        while i < len(written) and written[i] <= b["start_ms"]:
            i += 1
        if t0 <= b["start_ms"] <= t1:
            points.append((b["start_ms"], i - consumed))
        consumed += b["rows"]
    return points


def calm_phases(result, prefix):
    """The ingest segments of one kind (burst, base) that ran calm."""
    segs = [s for s in result["segments"] if s["phase"].startswith(prefix)]
    return {s["phase"] for s in calm(segs, lambda s: s["steal"], result["steal_limit"])}


def ladder(result, frames):
    """Per rung (the calm base-rate segments first): rate, frames, event
    tail, backlog slope, and whether the rung is sustained."""
    rungs = [(result["base_rate"], calm_phases(result, "base"))] + \
        [(r, {f"step{r}"}) for r in result["ladder"]]
    rows = []
    for rate, phases in rungs:
        fs = [f for f in frames if f[1] in phases]
        if not fs:
            continue
        lat = [f[4] for f in fs]
        t, pct = tail(lat)
        slope = _slope(_backlog_points(result, frames, fs[0][2], fs[-1][2]))
        # a backlog that grows through the rung shows as its last frame
        # waiting past the limit
        limit = result["latency_limit_s"]
        ok = t <= limit and fs[-1][4] <= limit
        rows.append({"rate": rate, "frames": len(fs), "p50_s": median(lat), "tail_s": t,
                     "tail_pct": pct, "last_s": fs[-1][4], "backlog_slope": slope,
                     "sustained": ok})
    return rows


def sustained_fps(rows, limit):
    """The highest sustained rung, moved toward the first failing rung by
    where the tail crosses the latency limit (geometric interpolation, the
    ladder being geometric)."""
    best = None
    for i, r in enumerate(rows):
        if not r["sustained"]:
            if best is None:
                return 0.0
            frac = 0.0
            if r["tail_s"] > limit and r["tail_s"] != float("inf"):
                lo = rows[i - 1]["tail_s"]
                frac = max(0.0, min(1.0, (limit - lo) / (r["tail_s"] - lo)))
            return best * (r["rate"] / best) ** frac
        best = r["rate"]
    return best or 0.0


def ingest(result):
    """End-to-end metrics of an ingest run: (metrics, attempted, failures)."""
    frames = ingest_frames(result)
    c = result["check"]
    failures = []
    for key in ("missing", "duplicated", "unknown", "twin_mismatched_rows"):
        failures += [f"sink check: {key} frame row"] * c[key]
    if result["query_error"]:
        failures.append(f"stream failed: {result['query_error']}")
    failures += [f"run: leaked active stream {q}" for q in result["leaked_streams"]]
    bases = calm_phases(result, "base")
    base = [f[4] for f in frames if f[1] in bases]
    t, pct = tail(base)
    calm_bursts = calm_phases(result, "burst")
    bursts = {}
    for f in frames:
        if f[1] in calm_bursts:
            bursts[f[1]] = max(bursts.get(f[1], 0.0), f[4])
    rows = ladder(result, frames)
    scheduled = [f for f in frames if f[1].startswith(("base", "step"))]
    batches = _batches(result)
    base_ids = {f[0] for f in frames if f[1] in bases}
    base_batches = sorted({b for fid, b in result["sink_batches"] if fid in base_ids})
    e2e = {
        "setup_s": ((result["timed_t0_ms"] - result["jvm_start_ms"]) / 1000, "s",
                    "JVM start to the first scheduled frame (session, stream start, warm-up)"),
        "pass_s": (median(list(bursts.values())), "s",
                   f"median drain time of {len(bursts)} bursts of {result['burst_frames']} frames"),
        "latency_p50_s": (median(base), "s",
                          f"event_p50_s at {result['base_rate']:g} frames/s over {len(base)} frames "
                          f"of {len(bases)} calm segments"),
        "latency_tail_s": (t, "s", f"event_tail_s = p{pct:.0f} of {len(base)} frames"),
        "heap_live_mb": (result["heap_live_bytes"] / 2**20, "MB",
                         "heap in use after a full GC at the end of the timed region"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024, "MB", "JVM VmHWM"),
        "sustained_fps": (sustained_fps(rows, result["latency_limit_s"]), "frames/s",
                          f"tail and last frame <= {result['latency_limit_s']} s"),
        "query_p50_s": (median([batches[b]["durationMs"]["triggerExecution"] / 1000
                                for b in base_batches if b in batches]), "s",
                        "median micro-batch wall at the base rate"),
        "gen.late_max_s": (max((f[3] - f[2]) / 1000 for f in scheduled), "s",
                           "generator lateness, a validity check"),
        "ladder": rows,
    }
    return e2e, len(frames), failures


def _union_ms(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def layers(result, trace):
    """Per-layer metrics of a traced run. Closed-loop sums are per pass;
    ingest sums cover its timed region."""
    cores = result["cores"]
    if result["workload"] == "ingest":
        windows = [(result["timed_t0_ms"], result["timed_t1_ms"], None)]
        norm = 1
    else:
        windows = [(s["t0"], s["t1"], s) for s in result["samples"] if s["phase"] == "timed"]
        norm = max(1, result["passes"])

    def owner(t):
        for w in windows:
            if w[0] <= t <= w[1]:
                return w
        return None

    by_kind = {}
    for r in trace:
        by_kind.setdefault(r["kind"], []).append(r)
    job_t0 = {r["job"]: r["t"] for r in by_kind.get("job_start", [])}
    job_t1 = {r["job"]: r["t"] for r in by_kind.get("job_end", [])}
    jobs = {j: (t, job_t1.get(j, t), owner(t)) for j, t in job_t0.items() if owner(t)}
    stages = [s for s in by_kind.get("stage", []) if s["job"] in jobs]

    def span_s(kind):
        return sum(r["t1"] - r["t0"] for r in by_kind.get(kind, [])) / 1000

    out = {}
    out["core.session_s"] = (span_s("core.session"), "s")
    out["core.warmup_s"] = (span_s("core.warmup"), "s")
    if result["workload"] == "ingest":
        out["query.build_s"] = (span_s("query.build"), "s")
    else:
        timed = [w[2] for w in windows]
        out["query.build_s"] = (sum(s["t_built"] - s["t0"] for s in timed) / 1000 / norm, "s")
        out["query.action_s"] = (sum(s["t_acted"] - s["t_built"] for s in timed) / 1000 / norm, "s")
        for s in timed:
            key = f"module.{s['pack']}.wall_s"
            out[key] = (out.get(key, (0.0,))[0] + (s["t1"] - s["t0"]) / 1000 / norm, "s")
    plans = [p for p in by_kind.get("planning", []) if owner(p["t"])]
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = (sum(p[f"{phase}_ms"] for p in plans) / 1000 / norm, "s")
    out["spark.jobs"] = (len(jobs) / norm, "count")
    out["spark.stages"] = (len(stages) / norm, "count")
    out["spark.tasks"] = (sum(s["tasks"] for s in stages) / norm, "count")
    wall_ms = sum(w[1] - w[0] for w in windows)
    gap_ms = sum((w[1] - w[0]) - _union_ms([(a, b) for a, b, o in jobs.values() if o is w],
                                            w[0], w[1]) for w in windows)
    job_wall_ms = sum(_union_ms([(a, b) for a, b, o in jobs.values() if o is w], w[0], w[1])
                      for w in windows)
    run_ms = sum(s["run_ms"] for s in stages)
    out["spark.driver_gap_s"] = (gap_ms / 1000 / norm, "s")
    out["spark.job_wall_s"] = (job_wall_ms / 1000 / norm, "s")
    out["spark.task_run_s"] = (run_ms / 1000 / norm, "s")
    out["spark.task_cpu_s"] = (sum(s["cpu_ns"] for s in stages) / 1e9 / norm, "s")
    out["spark.gc_s"] = (sum(s["gc_ms"] for s in stages) / 1000 / norm, "s")
    out["spark.busy_frac"] = (run_ms / (wall_ms * cores) if wall_ms else 0.0, "ratio")
    out["shuffle.write_bytes"] = (sum(s["shuffle_write"] for s in stages) / norm, "bytes")
    out["shuffle.read_bytes"] = (sum(s["shuffle_read"] for s in stages) / norm, "bytes")
    out["shuffle.fetch_wait_s"] = (sum(s["fetch_wait_ms"] for s in stages) / 1000 / norm, "s")
    out["shuffle.spill_mem_bytes"] = (sum(s["spill_mem"] for s in stages) / norm, "bytes")
    out["shuffle.spill_disk_bytes"] = (sum(s["spill_disk"] for s in stages) / norm, "bytes")
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] > 1 and s["task_median_ms"] > 0]
    out["task.skew_max"] = (max(skews, default=1.0), "ratio")

    progress = [r["json"] for r in by_kind.get("progress", [])]
    progress = [p for p in progress if owner(_epoch_ms(p["timestamp"]))]
    out["streaming.batches"] = (len(progress) / norm, "count")
    for phase, key in (("triggerExecution", "trigger"), ("latestOffset", "latest_offset"),
                       ("getBatch", "get_batch"), ("queryPlanning", "query_planning"),
                       ("addBatch", "add_batch"), ("walCommit", "wal_commit"),
                       ("commitOffsets", "commit_offsets")):
        out[f"streaming.{key}_s"] = (
            sum(p["durationMs"].get(phase, 0) for p in progress) / 1000 / norm, "s")
    ops = [op for p in progress for op in p.get("stateOperators", [])]
    out["state.rows_total"] = (max((op["numRowsTotal"] for op in ops), default=0), "count")
    out["state.memory_bytes"] = (max((op["memoryUsedBytes"] for op in ops), default=0), "bytes")
    out["state.commit_s"] = (sum(op["commitTimeMs"] for op in ops) / 1000 / norm, "s")
    out["state.rows_removed"] = (sum(op["numRowsRemoved"] for op in ops) / norm, "count")

    if result["workload"] == "ingest":
        frames = ingest_frames(result)
        # the sink is the stream's foreachBatch function, so a batch's
        # addBatch phase is its JdbcBatchSink.writeBatch call
        out["sink.write_s"] = out["streaming.add_batch_s"]
        lags = []
        written = sorted(f[3] for f in frames)
        consumed = 0
        for b in sorted(_batches(result).values(), key=lambda b: b["batchId"]):
            if owner(b["start_ms"]) and consumed < len(written) and written[consumed] <= b["start_ms"]:
                lags.append((b["start_ms"] - written[consumed]) / 1000)
            consumed += b["rows"]
        out["source.lag_s"] = (median(lags) if lags else 0.0, "s")
        rows = ladder(result, frames)
        out["source.backlog_rows"] = (max(r["backlog_slope"] for r in rows), "rows/s")
        scheduled = [f for f in frames if f[1].startswith(("base", "step"))]
        out["gen.late_max_s"] = (max((f[3] - f[2]) / 1000 for f in scheduled), "s")
    else:
        out["per_query"] = _per_query(result, windows, jobs)
    return out


def _per_query(result, windows, jobs):
    """Median over passes of each query's jobs, job wall and driver gap."""
    acc = {}
    for w in windows:
        spans = [(a, b) for a, b, o in jobs.values() if o is w]
        job_wall = _union_ms(spans, w[0], w[1])
        acc.setdefault(w[2]["name"], []).append(
            (len(spans), job_wall / 1000, (w[1] - w[0] - job_wall) / 1000))
    return {name: {"jobs": median([v[0] for v in vs]),
                   "job_wall_s": median([v[1] for v in vs]),
                   "driver_gap_s": median([v[2] for v in vs])}
            for name, vs in sorted(acc.items())}


def print_e2e(e2e):
    print("end-to-end")
    for k, v in e2e.items():
        if isinstance(v, tuple):
            print(f"  {k:<18} {v[0]:>12.4f} {v[1]:<9} {v[2]}")
    for name, w in e2e.get("per_query", {}).items():
        print(f"    query {name:<34} median {w:.3f} s")
    for r in e2e.get("ladder", []):
        print(f"    rung {r['rate']:>7g} frames/s  frames {r['frames']:>5}  p50 {r['p50_s']:.3f} s  "
              f"tail {r['tail_s']:.3f} s (p{r['tail_pct']:.0f})  last {r['last_s']:.3f} s  backlog slope "
              f"{r['backlog_slope']:8.1f} rows/s  {'ok' if r['sustained'] else 'not sustained'}")


def print_layers(lay):
    print("per-layer (traced run)")
    for k, v in lay.items():
        if isinstance(v, tuple):
            print(f"  {k:<32} {v[0]:>16.4f} {v[1]}")
    for name, q in lay.get("per_query", {}).items():
        print(f"    query {name:<34} jobs {q['jobs']:>5g}  job wall {q['job_wall_s']:.3f} s  "
              f"driver gap {q['driver_gap_s']:.3f} s")
