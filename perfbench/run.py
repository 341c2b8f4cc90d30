#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload market_live --seed 1 --seconds 12 --trace 0

Steps: build the engine plus the benchmark program from source (once per
checkout; `perfbench/build.sbt`), generate the workload's inputs from the
seed (`gen.py`), run the workload in one JVM on local[nproc], check its
outputs, and print

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json; with
--trace 1 they are the per-layer ones, and the spans go to
.bench_build/traces/. The line before the result holds the run context
(cpus, parallelism, versions, load and memory at start and end) and the
workload's own metrics; the same record is kept in .bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DEADLINE_S = 175          # hard limit for one run, build excluded
BUILD_TIMEOUT_S = 850
# a fixed, pre-touched heap: the peak RSS then varies with native memory
# (RocksDB, metaspace, code cache), not with when the collector grew the heap
JVM_HEAP = "2g"

WORKLOADS = ("market_live", "doc_ingest")
# sizing: enough staged inputs that the closed loop never runs dry (a
# window closes in ~4 s and a batch in ~7 s on a 4-core box; both are
# staged at three times that rate)
MARKET_WINDOWS_PER_S = 0.75
DOC_BATCHES_PER_S = 0.5
DOC_BATCH_DOCS, DOC_PLANTED = 200, 10
# batches already in the index when the stream starts: with the one
# warm-up batch the index then holds 6 pending deltas per store, the most
# DedupStream's stores hold before folding, so the first timed batch
# starts a fold (DocIngest.scala)
DOC_HISTORY_BATCHES = 5

ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def box_state():
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mem = None
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                mem = int(line.split()[1]) // 1024
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    # cpu time so far, and the part a hypervisor gave to other guests
    return {"load_1m": load[0], "load_5m": load[1], "load_15m": load[2], "mem_available_mb": mem,
            "cpu_ticks": sum(cpu[:8]), "steal_ticks": cpu[7] if len(cpu) > 7 else 0}


def sources():
    files = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    return files


def build():
    """Compile once per source state; returns the runtime classpath."""
    target = HERE / "target"
    stamp_file, cp_file = target / "bench-stamp", target / "classpath.txt"
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # resolution never leaves the machine
    log("building engine + benchmark program (sbt writeClasspath)")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "writeClasspath"], cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S, text=True)
    if r.returncode != 0 or not cp_file.exists():
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp_file.read_text()


def generate(workload, seed, seconds, data):
    sys.path.insert(0, str(HERE))
    import gen
    if workload == "market_live":
        gen.market(seed, data, 3 + int(seconds * MARKET_WINDOWS_PER_S) + 4)
    else:
        gen.doc_batches(seed, data, DOC_HISTORY_BATCHES,
                        1 + int(seconds * DOC_BATCHES_PER_S) + 4, DOC_BATCH_DOCS, DOC_PLANTED)


def run_jvm(cp, args, run_dir, deadline, logf):
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}"] + ADD_OPENS +
           ["-cp", cp, "graft.perfbench.Main"] + args)
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    with open(logf, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=run_dir)
        # a run stopped from outside takes its JVM with it
        signal.signal(signal.SIGTERM, lambda *_: (p.kill(), p.wait(), sys.exit(143)))
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"workload exceeded its time limit; see {logf}")
    if rc != 0:
        lines = logf.read_text().splitlines()
        first = [l for l in lines if "Exception" in l or "Error" in l][:15]
        sys.stderr.write("\n".join(first + ["..."] + lines[-40:]) + "\n")
        raise SystemExit(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("engine sources (src/main/scala) not found next to perfbench/")

    start_state = box_state()
    cpus = len(os.sched_getaffinity(0))
    cp = build()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    run_dir = BUILD / "runs" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = run_dir / "data", run_dir / "work"
    trace_out = BUILD / "traces" / f"{tag}.json"
    # the JVM's log outlives the run's inputs and scratch state
    (BUILD / "results").mkdir(parents=True, exist_ok=True)
    logf = BUILD / "results" / f"{tag}.jvm.log"
    try:
        g0 = time.time()
        generate(a.workload, a.seed, a.seconds, str(data))
        gen_s = time.time() - g0
        spawn = time.time()
        run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--cpus", str(cpus), "--data", str(data),
                     "--work", str(work), "--out", str(run_dir / "result.json"),
                     "--trace-out", str(trace_out)], run_dir, deadline, logf)
        res = json.loads((run_dir / "result.json").read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = res["ops_ms"]
    attempted = max(1, len(ops) + res["failed"])
    failed = min(attempted, res["failed"] + res["incorrect"])
    end_state = box_state()
    context = dict(res["context"], seed=a.seed, workload=a.workload, trace=a.trace,
                   nproc=cpus, box_start=start_state, box_end=end_state,
                   # at the start the load is other processes': the JVM adds its own
                   load_exceeded_nproc=start_state["load_1m"] > cpus,
                   steal_share=(end_state["steal_ticks"] - start_state["steal_ticks"]) /
                   max(1, end_state["cpu_ticks"] - start_state["cpu_ticks"]),
                   gen_s=gen_s)
    if a.trace:
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in benchmark()["per_layer"]}
    else:
        busy_s = sum(ops) / 1000.0
        values = {  # 0 when no operation completed (the result then reads failed)
            "setup_s": gen_s + res["warm_end_ms"] / 1000.0 - spawn,
            "op_p50_ms": statistics.median(ops) if ops else 0.0,
            "items_per_s": res["items"] / busy_s if busy_s else 0.0,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in benchmark()["end_to_end"]}
    record = {"context": context, "workload_metrics": res["workload_metrics"],
              "per_layer": res["per_layer"],
              "timeline_ms": dict({k: res[k] for k in ("jvm_start_ms", "session_ready_ms",
                                                       "warm_end_ms")}, spawn_ms=spawn * 1000),
              "notes": res["notes"], "ops_ms": ops}
    (BUILD / "results" / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))
    if context["load_exceeded_nproc"]:
        log(f"1-minute load exceeded nproc={cpus} when this run started: figures are suspect")
    print(json.dumps({"context": context, "workload_metrics": res["workload_metrics"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def benchmark():
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


if __name__ == "__main__":
    main()
