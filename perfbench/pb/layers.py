"""Reduce a traced run to per-layer metrics.

Span tree: pass → query → {call, sink} → Spark job → Spark stage. The
harness records the first three levels itself; the job and stage spans come
from its Spark listener. Counters are per traced pass (totals divided by the
number of traced passes) unless the name says otherwise.
"""
import statistics

from .stats import clip, merge, percentile, union_length

MB = 1024 * 1024

UNITS = {
    "catalog.call_s": "s", "catalog.sink_s": "s",
    "driver.outside_jobs_s": "s", "driver.outside_jobs_share": "ratio",
    "driver.gap_p50_ms": "ms", "driver.gap_p90_ms": "ms",
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_p50_ms": "ms", "sched.job_p90_ms": "ms",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "scan.input_mb": "MB", "sink.output_mb": "MB", "sink.rows": "count",
    "ckpt.written_mb": "MB", "ckpt.peak_mb": "MB", "ckpt.live_blocks_end": "count",
    "jvm.gc_pause_s": "s", "jvm.jit_s": "s", "jvm.heap_peak_mb": "MB",
    "self.run_s": "s", "self.call_s": "s", "self.sink_s": "s", "self.job_s": "s",
    "self.stage_s": "s",
    "trace.overhead_ratio": "ratio",
    "dedup.candidates": "count", "dedup.verified_ratio": "ratio",
}


def _windows(trace):
    """Per traced query: (pass, query, window_us, call_us, sink_us, jobs)."""
    by_group = {}
    for j in trace["jobs"]:
        if j["end_ms"] > 0:
            by_group.setdefault(j["group"], []).append((j["start_ms"] * 1000, j["end_ms"] * 1000))
    out = []
    for q in trace["queries"]:
        win = (q["call_us"][0], q["sink_us"][1])
        jobs = clip(by_group.get(f'{q["pass"]}:{q["query"]}', []), *win)
        out.append((q, win, tuple(q["call_us"]), tuple(q["sink_us"]), jobs))
    return out


def _gaps(win, jobs):
    """Idle stretches of a query window between its (merged) jobs,
    including the lead-in before the first job and the tail after the
    last one, in ms."""
    gaps, cur = [], win[0]
    for s, e in merge(jobs):
        gaps.append((s - cur) / 1000.0)
        cur = e
    gaps.append((win[1] - cur) / 1000.0)
    return [g for g in gaps if g > 0]


def reduce(result):
    """Per-layer metrics of a harness result that carries a trace."""
    tr = result["trace"]
    n = max(1, tr["passes"])
    wins = _windows(tr)
    stages = tr["stages"]
    jobs = [j for j in tr["jobs"] if j["end_ms"] > 0]
    stage_iv = [(s["start_ms"] * 1000, s["end_ms"] * 1000) for s in stages]
    job_iv = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs]

    wall_us = sum(w[1] - w[0] for _, w, _, _, _ in wins)
    in_jobs_us = sum(union_length(jv) for _, _, _, _, jv in wins)
    call_us = sum(c[1] - c[0] for _, _, c, _, _ in wins)
    sink_us = sum(s[1] - s[0] for _, _, _, s, _ in wins)
    call_self = sum((c[1] - c[0]) - union_length(clip(jv, *c)) for _, _, c, _, jv in wins)
    sink_self = sum((s[1] - s[0]) - union_length(clip(jv, *s)) for _, _, _, s, jv in wins)
    gaps = [g for _, w, _, _, jv in wins for g in _gaps(w, jv)]
    pass_us = sum(p["end_us"] - p["start_us"] for p in result["passes"] if p["traced"])
    stage_cover = union_length(stage_iv)
    job_cover = union_length(job_iv)
    qs = tr["queries"]

    def per_pass(x):
        return x / n

    m = {
        "catalog.call_s": per_pass(call_us) / 1e6,
        "catalog.sink_s": per_pass(sink_us) / 1e6,
        "driver.outside_jobs_s": per_pass(wall_us - in_jobs_us) / 1e6,
        "driver.outside_jobs_share": (wall_us - in_jobs_us) / wall_us if wall_us else 0.0,
        "driver.gap_p50_ms": percentile(gaps, 50),
        "driver.gap_p90_ms": percentile(gaps, 90),
        "plan.analysis_s": per_pass(sum(q["analysis_ms"] for q in qs)) / 1e3,
        "plan.optimization_s": per_pass(sum(q["optimization_ms"] for q in qs)) / 1e3,
        "plan.planning_s": per_pass(sum(q["planning_ms"] for q in qs)) / 1e3,
        "sched.jobs": per_pass(len(jobs)),
        "sched.stages": per_pass(len(stages)),
        "sched.tasks": per_pass(sum(s["tasks"] for s in stages)),
        "sched.job_p50_ms": percentile([(j["end_ms"] - j["start_ms"]) for j in jobs], 50),
        "sched.job_p90_ms": percentile([(j["end_ms"] - j["start_ms"]) for j in jobs], 90),
        "exec.run_s": per_pass(sum(s["run_ms"] for s in stages)) / 1e3,
        "exec.cpu_s": per_pass(sum(s["cpu_ns"] for s in stages)) / 1e9,
        "exec.gc_s": per_pass(sum(s["gc_ms"] for s in stages)) / 1e3,
        "shuffle.write_mb": per_pass(sum(s["shuffle_write_bytes"] for s in stages)) / MB,
        "shuffle.read_mb": per_pass(sum(s["shuffle_read_bytes"] for s in stages)) / MB,
        "shuffle.fetch_wait_s": per_pass(sum(s["fetch_wait_ms"] for s in stages)) / 1e3,
        "shuffle.spill_mb": per_pass(sum(s["spill_bytes"] for s in stages)) / MB,
        "scan.input_mb": per_pass(sum(s["input_bytes"] for s in stages)) / MB,
        "sink.output_mb": per_pass(sum(q["sink_bytes"] for q in qs)) / MB,
        "sink.rows": per_pass(sum(q["sink_rows"] for q in qs)),
        "ckpt.written_mb": per_pass(sum(q["ckpt_written_bytes"] for q in qs)) / MB,
        "ckpt.peak_mb": max((q["ckpt_peak_bytes"] for q in qs), default=0) / MB,
        "ckpt.live_blocks_end": per_pass(sum(q["live_blocks_end"] for q in qs)),
        "jvm.gc_pause_s": per_pass(tr["gc_ms"]) / 1e3,
        "jvm.jit_s": result["setup_jit_ms"] / 1e3,
        "jvm.heap_peak_mb": result["heap_peak_mb"],
        # self time: each level's span time not covered by its children
        "self.run_s": per_pass(pass_us - wall_us) / 1e6,
        "self.call_s": per_pass(call_self) / 1e6,
        "self.sink_s": per_pass(sink_self) / 1e6,
        "self.job_s": per_pass(job_cover - union_length(clip_all(stage_iv, job_iv))) / 1e6,
        "self.stage_s": per_pass(stage_cover) / 1e6,
    }
    m["trace.overhead_ratio"] = overhead_ratio(result)
    d = result.get("dedup")
    if d:
        m["dedup.candidates"] = d["candidates"]
        m["dedup.verified_ratio"] = d["verified"] / d["candidates"] if d["candidates"] else 0.0
    return m


def overhead_ratio(result):
    """Each traced pass's wall over the mean of the untraced passes just
    before and after it (passes keep getting faster, so a pass is compared
    with its neighbours); the median over traced passes."""
    walls = {p["pass"]: pass_walls(result, [p])[0] for p in result["passes"]}
    plain = {p["pass"] for p in result["passes"] if not p["traced"]}
    ratios = []
    for p in result["passes"]:
        if p["traced"]:
            near = [walls[i] for i in (p["pass"] - 1, p["pass"] + 1) if i in plain]
            ratios.append(walls[p["pass"]] / statistics.mean(near))
    return statistics.median(ratios)


def clip_all(intervals, windows):
    """The parts of ``intervals`` that fall inside any of ``windows``."""
    out = []
    for lo, hi in merge(windows):
        out.extend(clip(intervals, lo, hi))
    return out


def pass_walls(result, passes):
    """Timed wall of each pass: the sum of its queries' windows, so the
    harness's between-query clean-up is not counted."""
    ids = {p["pass"] for p in passes}
    walls = {}
    for r in result["runs"]:
        if r["pass"] in ids:
            walls[r["pass"]] = walls.get(r["pass"], 0) + (r["sink_us"][1] - r["call_us"][0]) / 1e6
    return list(walls.values())
