#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 graftbench/run.py --workload star_pipeline --seed 7 --seconds 5 --trace 0

Builds the harness with the engine's sources beside it (once per
checkout), generates the workload's inputs from the seed, starts the
harness JVM (`local[N]`, N = min(4, nproc)), measures, checks every
written output against DuckDB, and prints every metric by name with its
unit. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
All files it writes stay under `graftbench/work/` and
`graftbench/target/`.
"""
import argparse
import hashlib
import json
import math
import os
import random
import signal
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(HERE, "work")
BUILD = os.path.join(HERE, "target")
DEADLINE_S = 170          # a run must end within 180 s
SETUP_PROBES = 1          # extra set-up-only JVMs; setup_s is the median of 1 + this
HEAP = "2g"             # -Xms = -Xmx: a fixed heap keeps peak RSS from swinging with GC sizing

# name -> (mode, scale factor); the mix sample is in mix_queries.txt
WORKLOADS = {
    "star_pipeline": ("pipeline", 0.01),
    "analyst_mix": ("mix", 0.01),
}
# the pipeline's order history, one fact partition per day
PIPELINE_ORDER_DAYS = 30

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("Spark jars not found (set SPARK_HOME)")
    return home


def build():
    """Compile harness + engine; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError(f"engine sources not found under {ROOT}/src/main/scala/graft")
    stamp = os.path.join(BUILD, "graftbench-classpath.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st["hash"] == digest and all(os.path.exists(p) for p in st["classpath"].split(":")):
            return st["classpath"]
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    log("building the harness (sbt compile)")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, text=True,
                           timeout=800)
        lf.write(p.stdout)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        raise BenchError(f"sbt build failed (see {BUILD}/build.log)")
    with open(stamp, "w") as fh:
        json.dump({"hash": digest, "classpath": lines[-1]}, fh)
    return lines[-1]


# ---------------------------------------------------------------- JVM

def java_cmd(classpath, work):
    flags = [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # JVM defaults otherwise: the JIT sizes its compiler threads to the
    # host (pinning 12 on 4 cores starved the task threads: cold pass 33 s
    # against 24 s); -UsePerfData keeps hsperfdata out of /tmp
    flags += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=768m",
              "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dspark.sql.codegen.cache.maxEntries=4096"]
    return ["java"] + flags + ["-cp", classpath, "graftbench.Harness"]


def vm_hwm_kb(pid):
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def launch(cmd, args, cwd, logpath, deadline):
    """Run the harness; return (seconds to READY, peak RSS MB)."""
    t0 = time.monotonic()
    ready = []
    with open(logpath, "w") as lf:
        p = subprocess.Popen(cmd + args, cwd=cwd, stdout=subprocess.PIPE, stderr=lf, text=True)

        def read():
            for line in p.stdout:
                if line.strip() == "GRAFTBENCH_READY" and not ready:
                    ready.append(time.monotonic() - t0)
        reader = threading.Thread(target=read, daemon=True)
        reader.start()
        peak = 0
        try:
            while p.poll() is None:
                peak = max(peak, vm_hwm_kb(p.pid))
                if time.monotonic() > deadline:
                    raise BenchError(f"harness timed out (see {logpath})")
                time.sleep(0.05)
        finally:
            if p.poll() is None:
                p.kill()
            p.wait()
            reader.join(timeout=5)
    if p.returncode != 0 or not ready:
        raise BenchError(f"harness exited with {p.returncode} (see {logpath})")
    return ready[0], peak / 1024.0


# ---------------------------------------------------------------- helpers

def load1():
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def mix_sample():
    with open(os.path.join(HERE, "mix_queries.txt")) as fh:
        return [l.split() for l in fh if l.strip() and not l.startswith("#")]


def dir_stats(path):
    files = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]
    return len(files), sum(os.path.getsize(f) for f in files)


def parquet_rows(path):
    import pyarrow.parquet as pq
    return sum(pq.read_metadata(os.path.join(d, f)).num_rows
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


# ---------------------------------------------------------------- run

def prepare_inputs(workload, mode, sf, seed, data):
    rng = random.Random(seed)
    full = os.path.join(data, "full")
    counts = gen.generate(full, sf, seed,
                          PIPELINE_ORDER_DAYS if mode == "pipeline" else gen.ORDER_DAYS)
    dirs = {"full": full}
    info = {"rows": counts}
    if mode == "pipeline":
        dirs["base"], dirs["batch"] = os.path.join(data, "base"), os.path.join(data, "batch")
        tail_days, event_tail_days = rng.randint(2, 5), rng.randint(2, 5)
        info["split"] = gen.split_tail(full, dirs["base"], dirs["batch"], tail_days, event_tail_days)
        info["tail_days"], info["event_tail_days"] = tail_days, event_tail_days
    else:
        # the seed also fixes the order the session runs the sample in
        sample = mix_sample()
        rng.shuffle(sample)
        with open(os.path.join(data, "queries.txt"), "w") as fh:
            fh.writelines(f"{q} {f}\n" for q, f in sample)
        info["queries"] = [q for q, _ in sample]
    return dirs, info


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    mode, sf = WORKLOADS[a.workload]

    classpath = build()
    deadline = time.monotonic() + DEADLINE_S - 15
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data, out = os.path.join(work, "data"), os.path.join(work, "out")
    for d in (data, out, os.path.join(work, "tmp")):
        os.makedirs(d)
    phases = {"build": time.monotonic() - t_start}
    t = time.monotonic()
    dirs, inputs = prepare_inputs(a.workload, mode, sf, a.seed, data)
    phases["inputs"], t = time.monotonic() - t, time.monotonic()
    cores = min(4, os.cpu_count() or 1)
    cmd = java_cmd(classpath, work)
    host = {"nproc": os.cpu_count(), "cores": cores, "load1_before": load1(),
            "seed": a.seed, "workload": a.workload, "sf": sf, "inputs": inputs}

    setups = []
    for i in range(SETUP_PROBES):
        s, _ = launch(cmd, ["--mode", "setup", "--cores", str(cores)], work,
                      os.path.join(work, f"setup_{i}.log"), deadline)
        setups.append(s)
    args = ["--mode", mode, "--cores", str(cores), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", out]
    if mode == "pipeline":
        args += ["--base", dirs["base"], "--batch", dirs["batch"]]
    else:
        args += ["--data", dirs["full"], "--queries", os.path.join(data, "queries.txt")]
    phases["probes"], t = time.monotonic() - t, time.monotonic()
    s, peak_rss = launch(cmd, args, work, os.path.join(work, "harness.log"), deadline)
    setups.append(s)
    phases["harness"], t = time.monotonic() - t, time.monotonic()
    host["load1_after"] = load1()
    with open(os.path.join(out, "result.json")) as fh:
        res = json.load(fh)
    host["jvm_flags"] = res["jvm_flags"]
    host["available_processors"] = res["available_processors"]

    # oracle check, outside every timed region
    failed = {f"{f['op']}@{f['pass']}": f["error"] for f in res["failures"]}
    passes = sorted(int(d.split("_")[1]) for d in os.listdir(out) if d.startswith("pass_")) or [0]
    if mode == "pipeline":
        mism, extra = check.check_pipeline(out, dirs, passes, res["facts"], os.path.join(work, "tmp"))
        host["check"] = extra
    else:
        mism = check.check_mix(out, dirs["full"], inputs["queries"], os.path.join(work, "tmp"))
    for k, v in mism.items():
        failed.setdefault(k, "oracle mismatch: " + v)
    phases["check"] = time.monotonic() - t
    attempted = res["attempted"]

    ops = [x / 1000.0 for x in res["op_ms"]]
    warm = [x / 1000.0 for x in res["warm_pass_ms"]]
    if not ops:
        raise BenchError("no operation completed")
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_cpu_s": (res["cold_cpu_ms"] / 1000.0, "s"),
        "pass_cpu_s": (statistics.fmean(res["warm_cpu_ms"]) / 1000.0, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    # wall-clock figures: printed and recorded, not bounded (see README)
    notes = {"cold_pass_s": res["cold_pass_ms"] / 1000.0,
             "warmup_pass_s": res["warmup_pass_ms"] / 1000.0,
             "pass_s": sum(warm) / len(warm), "warm_pass_s": warm,
             "op_geomean_s": math.exp(statistics.fmean(math.log(x) for x in ops)),
             "op_p50_s": statistics.median(ops),
             "op_p90_s": statistics.quantiles(ops, n=10, method="inclusive")[8],
             "ops_per_s": len(ops) / sum(warm), "op_samples": len(ops),
             "setup_samples_s": setups, "error_rate": len(failed) / attempted}
    if mode == "pipeline":
        notes["incremental_s"] = statistics.median(res["incremental_ms"]) / 1000.0
    if a.trace:
        metrics = per_layer(res, os.path.join(out, f"pass_{passes[-1]}"))
    for k, v in sorted(failed.items()):
        log(f"FAILED {k}: {v}")
    for k, (v, unit) in metrics.items():
        print(f"{k} = {v:.6g} {unit}")
    for k, v in notes.items():
        print(f"{k} = {v}")
    record = {"host": host, "notes": notes, "failed": failed, "phases_s": phases, "op_s": ops,
              "wall_s": time.monotonic() - t_start,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(f"host: nproc={host['nproc']} N={cores} load1 {host['load1_before']} -> "
          f"{host['load1_after']} seed={a.seed} inputs={inputs['rows']}")
    print(f"jvm: {' '.join(host['jvm_flags'])}")
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": record["metrics"]}))


def per_layer(res, star):
    """Every per-layer metric BENCHMARK.json names, per traced pass; 0 where
    the workload does not reach the layer. `star` is the last traced pass's
    written star (pipeline only).
    """
    vals = dict(res["layers"])
    vals.update(res["tracer"])
    for t in os.listdir(star) if os.path.isdir(star) else []:
        vals[f"etl.{t}.rows"] = parquet_rows(os.path.join(star, t))
    vals["sources.files_written"], vals["sources.bytes_written"] = \
        dir_stats(os.path.join(star, "fact_sales"))
    vals["sources.partitions_loaded"] = res["facts"].get(
        f"{os.path.basename(star)}.batch.partitions", 0)
    vals["jvm.jit_ms"] = res["jvm_cold"]["jit_ms"]
    vals["jvm.classes_loaded"] = res["jvm_cold"]["classes_loaded"]
    vals["jvm.codecache_mb"] = res["jvm_end"]["codecache_mb"]
    vals["bench.trace_overhead_ms"] = (statistics.mean(res["traced_pass_ms"]) -
                                       statistics.mean(res["untraced_pass_ms"]))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = json.load(fh)["per_layer"]
    return {m["name"]: (vals.get(m["name"], 0), m["unit"]) for m in names}


if __name__ == "__main__":
    # a terminated run still stops the JVM it started (launch's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
