#!/usr/bin/env python3
"""Benchmark entry point: builds the program and the harness from source,
runs one workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. The line before it holds the run header, all nine
end-to-end metrics (fail_ratio too) and, for a traced run, the tracing
overhead against the last untraced run of the same workload and seed.
Everything the run leaves behind goes under `.perfbench_work/`.

    python3 perfbench/run.py --write-golden     # regenerate golden/*.tsv
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SHM = "/dev/shm"
RUN_LIMIT_S = 170

# Each of these changes what the program does under measurement.
REFUSED_KNOBS = [
    "SPARK_GRAFT_ONLY", "SPARK_GRAFT_BENCH_REPS",
    "SPARK_GRAFT_STREAM_STATE_PARTS", "SPARK_GRAFT_SCRATCH",
    "SPARK_GRAFT_STREAM_SCRATCH", "SPARK_GRAFT_SCRATCH_MIN_FREE_BYTES",
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_WARMUP_DIR",
]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def load_json(name):
    path = os.path.join(HERE, name) if name != "BENCHMARK.json" \
        else os.path.join(ROOT, name)
    with open(path) as f:
        return json.load(f)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def ensure_build():
    """Compiles program + harness with sbt once per source state and
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources under src/main/scala; run from a checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), stamp
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as log:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=850)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "classes" in l
             and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (see {os.path.join(WORK, 'build.log')})")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + lines[-1])
    return lines[-1], stamp


def data_dirs():
    """The board's inputs: graft.Bench's default sf0.1 and warm-up dirs."""
    src = open(os.path.join(ROOT, "src", "main", "scala", "graft",
                            "Bench.scala")).read()
    dirs = []
    for knob in ("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_WARMUP_DIR"):
        m = re.search(rf'"{knob}",\s*"([^"]+)"', src)
        if not m or not os.path.isdir(m.group(1)):
            die(f"cannot find the input dir graft.Bench uses for {knob}")
        dirs.append(m.group(1))
    return dirs


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    return f"{min(8, max(2, kb // 2097152))}g"


def write_lists(path):
    lists = load_json("workloads.json")["workloads"]
    with open(path, "w") as f:
        for w, spec in lists.items():
            f.write(w + "\t" + ",".join(spec["queries"]) + "\n")
    return lists


def graft_dirs():
    try:
        return {d for d in os.listdir(SHM) if d.startswith("graft_")}
    except OSError:
        return set()


def run_harness(cp, harness_args, tag, limit_s=RUN_LIMIT_S):
    """Runs perfbench.Harness in its own process group, bounded by
    `limit_s`; removes its scratch afterwards. Returns the exit code."""
    run_dir = os.path.join(WORK, "run", tag)
    tmp_dir = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap()}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile=classpath:graft/tool-log4j2.properties",
            f"-Djava.io.tmpdir={tmp_dir}", "-cp", cp, "perfbench.Harness"]
    cmd += harness_args
    shm_before = graft_dirs()
    started = time.time()
    try:
        with open(os.path.join(WORK, "logs", tag + ".log"), "w") as log:
            p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log,
                                 start_new_session=True)

            def stop():
                os.killpg(p.pid, signal.SIGTERM)
                try:
                    p.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()

            # a benchmark stopped from outside stops its JVM too
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, lambda *_: (stop(), sys.exit(3)))
            try:
                rc = p.wait(timeout=limit_s)
            except subprocess.TimeoutExpired:
                stop()
                rc = -9
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_DFL)
        # The program deletes its JVM-lifetime scratch at exit; remove
        # what a killed or failed run left on the RAM root.
        for d in graft_dirs() - shm_before:
            path = os.path.join(SHM, d)
            try:
                if os.stat(path).st_ctime >= started - 1:
                    shutil.rmtree(path, ignore_errors=True)
            except OSError:
                pass
        shutil.rmtree(run_dir, ignore_errors=True)
    return rc


def loadavg():
    return os.getloadavg()[0]


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-golden", action="store_true")
    a = ap.parse_args()

    set_knobs = [k for k in REFUSED_KNOBS if k in os.environ]
    if set_knobs:
        die("refusing to run with " + ", ".join(set_knobs) +
            " set: each changes what is measured")
    bench = load_json("BENCHMARK.json")
    load_start = loadavg()
    cp, stamp = ensure_build()
    sf_dir, warm_dir = data_dirs()
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    lists_file = os.path.join(WORK, "lists.tsv")
    lists = write_lists(lists_file)

    if a.write_golden:
        os.makedirs(os.path.join(HERE, "golden"), exist_ok=True)
        for w in lists:
            out = os.path.join(WORK, "results", f"golden-{w}.json")
            rc = run_harness(cp, [
                "--lists", lists_file, "--workload", w, "--seed", "0",
                "--trace", "0", "--sf-dir", sf_dir, "--warm-dir", warm_dir,
                "--out", out,
                "--golden-out", os.path.join(HERE, "golden", w + ".tsv")],
                f"golden-{w}", limit_s=900)
            res = json.load(open(out)) if rc == 0 else {}
            print(json.dumps({"workload": w, "rc": rc,
                              "failed": res.get("failed"),
                              "failures": res.get("failures")}))
        return

    if a.workload not in lists:
        die(f"unknown workload {a.workload!r}; have {sorted(lists)}")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(WORK, "results", tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    shm_free = shutil.disk_usage(SHM).free if os.path.isdir(SHM) else None
    args = ["--lists", lists_file, "--workload", a.workload,
            "--seed", str(a.seed), "--trace", str(a.trace),
            "--sf-dir", sf_dir, "--warm-dir", warm_dir, "--out", out,
            "--rounds", str(lists[a.workload]["rounds"]),
            "--golden", os.path.join(HERE, "golden", a.workload + ".tsv")]
    if a.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        args += ["--trace-out",
                 os.path.join(WORK, "traces", tag + ".jsonl")]
    rc = run_harness(cp, args, tag)
    if rc != 0 or not os.path.exists(out):
        die(f"harness exited with {rc}; see {WORK}/logs/{tag}.log")
    with open(out) as f:
        res = json.load(f)

    units = {m["name"]: m["unit"] for m in
             bench["end_to_end"] + bench["per_layer"]}
    e2e = {k: {"value": v, "unit": "s" if k.endswith("_s") else
               "MB" if k.endswith("_mb") else "ratio"}
           for k, v in res["e2e"].items()}
    header = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "loadavg_1m_start": load_start, "loadavg_1m_end": loadavg(),
        "nproc": os.cpu_count(), "cpus_used": res["cpus"],
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "xmx": heap(), "git_commit": git_commit(), "source_sha256": stamp,
        "shm_free_bytes": shm_free, "sf_dir": sf_dir, "warm_dir": warm_dir,
        "warmup_failures": res["warmup_failures"],
        "seconds": a.seconds,
        "window_s": (res["window_end_ms"] - res["window_start_ms"]) / 1000,
        "query_n": res["query_n"], "query_tail_pct": res["query_tail_pct"],
        "rounds": res["rounds"],
        "failures": res["failures"],
    }
    record = {"header": header, "end_to_end": e2e}
    if a.trace:
        record["drain"] = res["drain"]
        untraced = os.path.join(WORK, "results",
                                f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            record["tracing_overhead"] = {
                k: v - base[k] for k, v in res["e2e"].items()}
    print(json.dumps(record))

    names = [m["name"] for m in bench["per_layer" if a.trace
                                      else "end_to_end"]]
    source = res["layers"] if a.trace else res["e2e"]
    missing = [n for n in names if n not in source]
    if missing:
        die(f"harness did not report {missing}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": source[n], "unit": units[n]}
                    for n in names},
    }))


if __name__ == "__main__":
    main()
