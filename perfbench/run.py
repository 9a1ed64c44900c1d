#!/usr/bin/env python3
"""Benchmark of the lcmapblackmagicspark job queue.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (output under .bench_build/ and the sbt
target directories); later runs reuse the build while the sources are
unchanged. One JVM then runs the workload (perfbench.Main) and writes raw
measurements; this script turns them into metrics and prints them as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(see BENCHMARK.json and perfbench/README.md). A full report with the
environment stamp lands in .bench_build/perfbench/results/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics as M  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tile_lifecycle", "full_chip", "request_stream")
# measurement knobs of the program; a run measures its defaults only
KNOBS = ("SPARK_GRAFT_JQ_PAR", "SPARK_GRAFT_OLDWRITE", "SPARK_GRAFT_AQE",
         "SPARK_GRAFT_LIFECYCLE_ONLY")
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the rebuild fingerprint."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Build with sbt unless the sources match the last build; returns
    the runtime classpath."""
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    # dependencies come from the local caches only, never the network
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE",
                                                         "offline"))
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(proc)
            fail(f"build timed out (log: {log})")
    if rc != 0:
        fail(f"build failed (log: {log})")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ".jar" in ln and ":" in ln
                 and not ln.startswith("[")]
    if not lines:
        fail(f"build printed no classpath (log: {log})")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(fp)
    return lines[-1]


def stop(proc):
    """Kill a process group and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def measure(args, classpath, work, out, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(proc)
            fail("measurement timed out")
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"measurement failed with exit code {rc}")
    with open(out) as f:
        return json.load(f)


def ms(us):
    return us / 1000.0


def end_to_end(raw):
    reqs = [r for r in raw["requests"] if r["iteration"] >= 0
            and not r["traced"] and r["seen"] > 0]
    lat = {k: [ms(M.open_loop_latency(r["due"], r["seen"])) for r in reqs
               if r["kind"] == k] for k in ("segment", "prediction")}
    chips = sum(1 for r in reqs if r["kind"] in ("segment", "prediction"))
    if raw["workload"] == "request_stream":
        first_sent = min((r["sent"] for r in reqs), default=0)
        busy_ms = sum(p["add_batch_ms"] for p in raw["extra"]["progress"]
                      if not p["traced"]
                      and p["trigger_start_ms"] * 1000 >= first_sent)
    else:
        busy_ms = sum(ms(b["end"] - b["start"]) for b in raw["batches"]
                      if b["iteration"] >= 0 and not b["traced"])
    extra = {
        "segment_p90_ms": M.percentile_or_none(lat["segment"], 0.9),
        "prediction_p90_ms": M.percentile_or_none(lat["prediction"], 0.9),
        "samples": {k: len(v) for k, v in lat.items()},
        "tile_train_s": M.median([ms(b["end"] - b["start"]) / 1000.0
                                  for b in raw["batches"]
                                  if b["kind"] == "tile" and b["iteration"] >= 0
                                  and not b["traced"]]),
        "timed_s": raw["timed_s"],
    }
    if raw["workload"] == "request_stream":
        extra["request_backlog_max"] = raw["extra"]["backlog_max"]
        extra["generator_late_max_ms"] = ms(max(
            (M.lateness(r["due"], r["sent"]) for r in reqs), default=0))
    return {
        "setup_s": raw["setup"]["total_s"],
        "segment_p50_ms": M.median(lat["segment"]),
        "prediction_p50_ms": M.median(lat["prediction"]),
        "chips_per_s": chips / (busy_ms / 1000.0) if busy_ms > 0 else 0.0,
        "peak_heap_mb": max(raw["heap_mb"]),
    }, extra


def load_spans(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def request_key(r):
    return "tile" if r["kind"] == "tile" else f"{r['kind']}:{r['cx']}:{r['cy']}"


def per_layer(raw):
    spans = load_spans(raw["spans"])
    by_req = {}
    for s in spans:
        by_req.setdefault(s["req"], []).append(s)
    traced = [r for r in raw["requests"] if r["traced"] and r["seen"] > 0
              and r["iteration"] >= 0]
    batches = [b for b in raw["batches"] if b["traced"] and b["iteration"] >= 0]
    out = {}

    # --- per request: its wall from the first decorated call to the
    # result, split into kernel / spark / store / rest
    trigger_starts = sorted(p["trigger_start_ms"] * 1000
                            for p in raw["extra"].get("progress", []))
    phase = {k: {"wall": 0.0, "kernel": 0.0, "spark": 0.0, "store": 0.0,
                 "unaccounted": 0.0, "gap": 0.0}
             for k in ("segment", "tile", "prediction")}
    pool_wait, wk_self = [], 0.0
    for r in traced:
        mine = [s for s in by_req.get(request_key(r), [])
                if r["due"] - 1000 <= s["start"] <= r["seen"] + 1000]
        claims = [s["start"] for s in mine if s["name"] == "claim"]
        if not claims:
            continue
        wall = (min(claims), r["seen"])
        # pool wait runs from the start of the request's batch: the
        # dispatch call (closed loop) or the trigger (open loop)
        started = [t for t in trigger_starts if t >= r["sent"]]
        pool_wait.append(ms(wall[0] - (started[0] if started else r["due"])))
        jobs = [(s["start"], s["end"]) for s in mine if s["name"] == "spark.job"]
        kernels = [(s["start"], s["end"]) for s in mine
                   if s["name"] in ("ops.detect", "ml.score", "ml.train")]
        store = [(s["start"], s["end"]) for s in mine
                 if s["name"].startswith("store.")]
        part = M.account(wall, jobs, kernels, store)
        for k, v in part.items():
            phase[r["kind"]][k] += v
        for s in mine:
            if s["name"] == "store.write_keyed":
                wk_self += M.self_time((s["start"], s["end"]), kernels)
    for k, p in phase.items():
        for part in ("wall", "kernel", "spark", "store", "unaccounted"):
            out[f"{k}.{part}_ms"] = ms(p[part])
        out[f"{k}.kernel_share"] = p["kernel"] / p["wall"] if p["wall"] else 0.0
        out[f"{k}.unaccounted_share"] = (p["unaccounted"] / p["wall"]
                                         if p["wall"] else 0.0)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def attr(ss, a):
        return sum(s["attrs"].get(a, 0.0) for s in ss)

    counters = raw["counters"]
    preds = [r for r in traced if r["kind"] == "prediction"]
    # the memo serves every prediction of a batch after its first fetch;
    # the stream's untimed lead-in request is traced too
    served = [r for r in raw["requests"] if r["traced"]
              and r["kind"] == "prediction"]
    fetches = [s for s in named("store.read_keyed") if s["req"] == "model-fetch"]
    if raw["workload"] == "request_stream":
        progress = [p for p in raw["extra"]["progress"] if p["traced"]]
        batch_ms = [p["add_batch_ms"] for p in progress]
        trigger_wait = []
        for r in traced:
            nxt = [t for t in trigger_starts if t >= r["sent"]]
            if nxt:
                trigger_wait.append(ms(nxt[0] - r["sent"]))
    else:
        batch_ms = [ms(b["end"] - b["start"]) for b in batches]
        trigger_wait = [0.0]
    out.update({
        "streaming.requests": len(traced),
        "streaming.batches": len(batch_ms),
        "streaming.batch_ms": M.median(batch_ms),
        "streaming.pool_wait_ms": M.median(pool_wait),
        "streaming.trigger_wait_ms": M.median(trigger_wait),
        "streaming.aux_builds": counters.get("streaming.aux_builds", 0),
        "streaming.model_fetches": len(fetches),
        "streaming.model_memo_hit_ratio":
            1.0 - len(fetches) / len(served) if served else 0.0,
        "streaming.log_entries": len(traced),
    })
    det = named("ops.detect")
    busy = attr(det, "busy_ms")
    out.update({
        "ops.ccd_pixels": attr(det, "pixels"),
        "ops.ccd_clear_obs": attr(det, "clear_obs"),
        "ops.ccd_segments": attr(det, "segments"),
        "ops.ccd_busy_ms": busy,
        "ops.ccd_pixels_per_core_s":
            attr(det, "pixels") / (busy / 1000.0) if busy else 0.0,
        "ops.ccd_single_thread_px_per_s": raw["ccd_single_thread_px_per_s"],
        "ops.prediction_rows": sum(r["rows"] for r in preds),
    })
    train = named("ml.train")
    score = named("ml.score")
    sbusy = attr(score, "busy_ms")
    out.update({
        "ml.train_ms": sum(ms(s["end"] - s["start"]) for s in train),
        "ml.train_rows": attr(train, "rows"),
        "ml.trees": attr(train, "trees"),
        "ml.model_bytes": attr(train, "model_bytes"),
        "ml.score_calls": attr(score, "calls"),
        "ml.score_rows": attr(score, "rows"),
        "ml.score_busy_ms": sbusy,
        "ml.score_rows_per_core_s":
            attr(score, "rows") / (sbusy / 1000.0) if sbusy else 0.0,
    })
    for op in ("write_keyed", "read_keyed", "read", "delete"):
        d = [ms(s["end"] - s["start"]) for s in named(f"store.{op}")]
        out[f"store.{op}_calls"] = len(d)
        out[f"store.{op}_p50_ms"] = M.median(d)
        out[f"store.{op}_sum_ms"] = sum(d)
    out["store.write_keyed_self_ms"] = ms(wk_self)
    out["store.bytes_written"] = counters.get("store.bytes_written", 0)
    out["store.files"] = sum(
        len([n for n in names if n.endswith(".parquet")])
        for root in raw["extra"].get("traced_stores", [])
        for _, _, names in os.walk(root))
    jobs = named("spark.job")
    titers = [i for i in raw["iterations"] if i["traced"]]
    all_walls = [(b["start"], b["end"]) for b in batches]
    n_req = max(1, len(traced))
    out.update({
        "spark.jobs": len(jobs),
        "spark.stages": counters.get("spark.stages", 0),
        "spark.tasks": counters.get("spark.tasks", 0),
        "spark.jobs_per_request": len(jobs) / n_req,
        "spark.tasks_per_request": counters.get("spark.tasks", 0) / n_req,
        "spark.executor_run_ms": counters.get("spark.executor_run_ms", 0),
        "spark.executor_cpu_ms": counters.get("spark.executor_cpu_us", 0) / 1000.0,
        "spark.gc_ms": counters.get("spark.gc_ms", 0),
        "spark.shuffle_read_bytes": counters.get("spark.shuffle_read_bytes", 0),
        "spark.shuffle_write_bytes": counters.get("spark.shuffle_write_bytes", 0),
        "spark.spill_bytes": counters.get("spark.spill_bytes", 0),
        "spark.queries": counters.get("spark.queries", 0),
        "spark.planning_ms": counters.get("spark.planning_us", 0) / 1000.0,
        "spark.codegen_compiles": sum(i.get("codegen", 0) for i in titers),
        "spark.driver_gap_ms": sum(ms(p["gap"]) for p in phase.values()),
        "spark.batch_gap_ms": sum(ms(M.driver_gap(w, [(j["start"], j["end"])
                                                     for j in jobs]))
                                  for w in all_walls),
    })
    setup = raw["setup"]
    out.update({
        "setup.session_ms": setup["session_ms"],
        "setup.warmup_ms": setup["warmup_ms"],
        "setup.fixture_ms": setup["fixture_ms"],
        "box.cpu_anchor_ms": raw["anchors"]["cpu_anchor_ms"],
        "box.mem_anchor_ms": raw["anchors"]["mem_anchor_ms"],
    })
    out["jvm.jit_ms"] = sum(i.get("jit_ms", 0) for i in titers)
    out["jvm.gc_ms"] = sum(i.get("gc_ms", 0) for i in titers)
    out.update(overhead(raw))
    return out


def overhead(raw):
    """Traced minus untraced, within one traced run: mean iteration walls
    for the closed loops (their traced iterations sit between untraced
    ones, so a linear trend cancels), median request latency for the
    open loop (an untraced half, then a traced half)."""
    if raw["workload"] == "request_stream":
        def wall(traced):
            return M.median([ms(r["seen"] - r["due"]) / 1000.0
                             for r in raw["requests"] if r["seen"] > 0
                             and r["iteration"] >= 0 and r["traced"] == traced])
    else:
        def wall(traced):
            xs = [(i["end"] - i["start"]) / 1e6 for i in raw["iterations"]
                  if i["traced"] == traced]
            return sum(xs) / len(xs) if xs else 0.0
    u, t = wall(False), wall(True)
    return {"trace.untraced_s": u, "trace.traced_s": t,
            "trace.overhead_s": t - u,
            "trace.overhead_pct": 100.0 * (t - u) / u if u else 0.0}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()
    start = time.time()
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"no program source here: {f} is missing")
    knobs = [k for k in KNOBS if k in os.environ]
    if knobs:
        fail(f"refusing to run with measurement knobs set: {', '.join(knobs)}")
    # the first run of a checkout builds; later runs must fit 180 s
    first = not os.path.exists(os.path.join(BUILD, "build.stamp"))
    classpath = build(start + (850 if first else 60))
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(
        results, f"{args.workload}-s{args.seed}-t{args.trace}.raw.json")
    try:
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        raw = measure(args, classpath, work, out,
                      time.time() + RUN_LIMIT_S - (0 if first else
                                                   time.time() - start))
        if args.trace:
            metrics_out, extra = per_layer(raw), {}
        else:
            metrics_out, extra = end_to_end(raw)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    env = dict(raw["env"], commit=git_commit(), sources=fingerprint()[:16])
    failed = len({f["req"] for f in raw["failures"]})
    attempted = len([r for r in raw["requests"] if r["iteration"] >= 0])
    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "env": env, "metrics": metrics_out,
              "extra": extra, "failures": raw["failures"][:50],
              "attempted": attempted, "failed": failed,
              "failed_fraction": failed / attempted if attempted else 1.0}
    with open(out.replace(".raw.json", ".json"), "w") as f:
        json.dump(report, f, indent=1)
    print(f"perfbench: env {json.dumps(env)}", file=sys.stderr)
    for f in raw["failures"][:10]:
        print(f"perfbench: FAILED {f['req']}: {f['msg']}", file=sys.stderr)
    units = unit_table()
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")}
                    for k, v in metrics_out.items() if k in units},
    }))


def unit_table():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    main()
