#!/usr/bin/env python3
"""The graft benchmark of record.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and harness from source on first use, derives the seed's
inputs from the committed tables, runs the workload's catalog queries in
one local-mode JVM (set-up with two untimed warm-up passes, then timed passes
for at least S seconds and at least three passes), checks every written result against its DuckDB
oracle digest, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s, wall_s,
ok_ratio, peak_rss_mb); with --trace 1 they are the per-layer ones from one
traced pass after the timed passes. Derived inputs, oracle digests, the
build and run scratch live under perfbench/.cache/ (never tracked).
Everything the run starts is waited for before it exits.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

from pb import build, inputs, layers, oracle  # noqa: E402

# Why each workload, and which queries: see README.md. The untimed warm-up
# passes run the same queries on the same seed's sf0.001 tables: they leave
# the timed passes as warm as a warm-up on the full input does, for a
# fraction of its cost.
WARM_SF = "sf0.001"
WORKLOADS = {
    "iterative_sf0.001": {"sf": "sf0.001", "queries": ["q_graph_bracha"]},
    "dedup_sf0.1": {"sf": "sf0.1", "queries": ["q_dedup_clusters"]},
}
ORACLE_MEMORY = "3GB"


def jvm_timeout(seconds, trace):
    """How long the harness may take: set-up, then the timed passes (at
    least three, so more than --seconds when a pass is long), tripled when
    traced (untraced, traced and untraced passes again)."""
    return 120 + (3 if trace else 1) * 2 * max(seconds, 30)

END_TO_END = {"setup_s": "s", "wall_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB"}


def cpus():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 heap rule: half the machine's memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def oracle_digests(cache, oracles, sf, seed, data_dir, queries):
    """Expected digests for the seed's inputs, computed once and cached."""
    out = {}
    con = None
    for q in queries:
        sql = oracles[q]
        key = f"{q}-{oracle.sql_key(sql)}"
        path = os.path.join(cache, "oracle", sf, f"seed{seed}", key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                out[q] = json.load(f)
            continue
        if con is None:
            con = oracle.connect(data_dir, ORACLE_MEMORY)
        try:
            d = oracle.digest(con, sql)
        except Exception as e:  # a failing oracle fails the check, uncached
            out[q] = {"error": str(e)[:500]}
            continue
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(d, f)
        os.replace(path + ".tmp", path)
        out[q] = d
    if con is not None:
        con.close()
    return out


def run_harness(classpath, cache, run_dir, wl, data, warm, seconds, trace):
    scratch = os.path.join(cache, "scratch")
    tmp = os.path.join(cache, "tmp")
    for d in (scratch, tmp):
        os.makedirs(d, exist_ok=True)
    result = os.path.join(run_dir, "result.json")
    launched = time.time()
    cmd = (["java"] + ADD_OPENS + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g", f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-cp", classpath, "graftbench.Harness",
        "--data", data, "--warm-data", warm, "--out", os.path.join(run_dir, "out"),
        "--queries", ",".join(wl["queries"]), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--cpus", str(cpus()), "--result", result])
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=scratch)
    with open(os.path.join(run_dir, "harness.log"), "w") as log:
        p = subprocess.Popen(cmd, env=env, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        timeout = jvm_timeout(seconds, trace)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"harness exceeded {timeout}s")
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(result):
        raise RuntimeError(f"harness exited {rc}; see {run_dir}/harness.log")
    with open(result) as f:
        return json.load(f), launched


def check(res, expected, run_dir):
    """Mark each timed query run ok only if it returned and its written
    rows match the oracle digest."""
    con = oracle.connect(run_dir, ORACLE_MEMORY, views=False)
    for r in res["runs"]:
        r["matched"] = False
        if r["ok"]:
            try:
                got = oracle.output_digest(con, os.path.join(run_dir, "out", r["path"]))
            except Exception as e:
                got = {"error": str(e)[:300]}
            r["matched"] = oracle.matches(expected.get(r["query"]), got)
            r["rows"] = got.get("rows")
    con.close()
    return res["runs"]


def sink_rows_agree(res, runs):
    """The tracer's sink row counts against the rows read back from disk."""
    rows = {(r["pass"], r["query"]): r.get("rows") for r in runs}
    return all(q["sink_rows"] == rows.get((q["pass"], q["query"]))
               for q in res["trace"]["queries"])


def end_to_end(res, launched, runs):
    plain = [p for p in res["passes"] if not p["traced"]]
    failed = sum(1 for r in runs if not r["matched"])
    return {
        # JVM launch → first timed query: session, warm-up passes, JIT
        "setup_s": res["first_timed_us"] / 1e6 - launched,
        "wall_s": statistics.median(layers.pass_walls(res, plain)),
        "ok_ratio": (len(runs) - failed) / len(runs),
        "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in plain),
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", help="append the run's summary as one JSON line to this "
                                     "file (a result set for compare.py)")
    a = ap.parse_args(argv)
    if a.seed < 0:
        ap.error("--seed must be >= 0")
    wl = WORKLOADS[a.workload]
    cache = os.path.join(BENCH, ".cache")
    os.makedirs(cache, exist_ok=True)

    classpath, build_dir = build.ensure(cache, os.path.join(cache, "build.log"))
    with open(os.path.join(build_dir, "oracles.json")) as f:
        oracles = json.load(f)
    data, warm = (inputs.derive(os.path.join(BENCH, "data", sf),
                                os.path.join(cache, "inputs", sf, f"seed{a.seed}"), a.seed)
                  for sf in (wl["sf"], WARM_SF))
    expected = oracle_digests(cache, oracles, wl["sf"], a.seed, data, wl["queries"])

    run_dir = os.path.join(cache, "runs", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res, launched = run_harness(classpath, cache, run_dir, wl, data, warm, a.seconds,
                                a.trace == 1)
    runs = check(res, expected, run_dir)
    failed = sum(1 for r in runs if not r["matched"])
    e2e = end_to_end(res, launched, runs)
    if a.trace:
        metrics = layers.reduce(res)
        units = layers.UNITS
        if not sink_rows_agree(res, runs):
            print("perfbench: traced sink row counts differ from the rows written",
                  file=sys.stderr)
    else:
        metrics, units = e2e, END_TO_END
    summary = {
        "workload": a.workload, "seed": a.seed, "queries": wl["queries"], "cpus": res["cpus"],
        "max_heap_mb": res["max_heap_mb"], "scratch": res["scratch"],
        "attempted": len(runs), "failed": failed,
        "end_to_end": e2e, "per_layer": metrics if a.trace else None,
        "setup_parts_s": {"session": res["session_us"] / 1e6 - launched,
                          "warm_up": (res["warmed_us"] - res["session_us"]) / 1e6},
        "runs": [{k: r[k] for k in ("query", "pass", "traced", "ok", "matched", "error")}
                 | {"wall_s": (r["sink_us"][1] - r["call_us"][0]) / 1e6} for r in runs],
    }
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    if a.trace:
        # the span record of the traced passes, written once at the end
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump(res["trace"], f)
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(summary) + "\n")
    # keep the derived inputs and digests, drop the written results
    shutil.rmtree(os.path.join(run_dir, "out"), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": len(runs), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except (RuntimeError, OSError, subprocess.SubprocessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
