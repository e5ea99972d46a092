#!/usr/bin/env python3
"""Benchmark runner for the graft engine: one workload, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine's own
sources (src/main) together with the harness (perfbench/scala) into
.bench_build/ with sbt; later runs reuse that build while the sources are
unchanged. Each run then starts one JVM (graftbench.Main) with a private
run directory (GRAFT_SCRATCH, Spark local dir, checkpoints) that is removed
when the run ends.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it,
prefixed "detail:", holds everything else the run measured. A traced run
also leaves its spans in .bench_build/traces/<workload>-seed<N>.jsonl.

    python3 perfbench/run.py --record

re-records perfbench/expected.json (the pipeline result checksums) from
the current code. Workload definitions live in perfbench/workloads.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_CAP_S = 170  # the whole run, build excluded, must end within this
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "scala"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME: the build takes Spark's jars from the Spark install")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "sbt.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=850)
        except subprocess.TimeoutExpired:
            fail(f"sbt build timed out; see {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(stdout[-4000:])
        fail(f"sbt build failed (exit {proc.returncode}); see {log_path}")
    lines = [ln.strip() for ln in stdout.splitlines()
             if "classes" in ln and ln.strip() and not ln.startswith("[")]
    if not lines:
        fail("sbt printed no classpath")
    cp = lines[-1]
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def java_cmd(cp):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  "-cp", cp]


def run_jvm(cp, workload, seed, seconds, trace, launch_ms, deadline, extra_env=None):
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = dict(os.environ)
    env["GRAFT_SCRATCH"] = os.path.join(run_dir, "graft-scratch")
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env.update(extra_env or {})
    cpus = len(os.sched_getaffinity(0))
    cmd = java_cmd(cp) + [
            "graftbench.Main", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--root", ROOT, "--run-dir", run_dir,
            "--launch-ms", repr(launch_ms), "--cpus", str(cpus)]
    if trace:
        cmd += ["--trace-file",
                os.path.join(BUILD, "traces", f"{workload}-seed{seed}.jsonl")]
    log_path = os.path.join(BUILD, f"jvm-{workload}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True, start_new_session=True)
            try:
                stdout, _ = proc.communicate(timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                fail(f"{workload} exceeded the run time cap; see {log_path}")
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    found = {}
    for ln in stdout.splitlines():
        for tag in ("PERFBENCH_DETAIL ", "PERFBENCH_RESULT "):
            if ln.startswith(tag):
                found[tag.strip()] = json.loads(ln[len(tag):])
    if proc.returncode != 0 or "PERFBENCH_RESULT" not in found:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{workload} run failed (exit {proc.returncode}); see {log_path}")
    return found.get("PERFBENCH_DETAIL", {}), found["PERFBENCH_RESULT"]


def check_result(result, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = result["metrics"]
    if set(got) != set(want):
        fail(f"metric names differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    for name, unit in want.items():
        if got[name]["unit"] != unit:
            fail(f"{name}: unit {got[name]['unit']} != {unit}")


def oracle_check(cp, data, queries):
    """Cross-check the queries against DuckDB: graft.Verify dumps their
    results and tools/check.py compares them with the oracle SQL."""
    out = os.path.join(BUILD, "oracle")
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_ONLY=",".join(queries),
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               GRAFT_SCRATCH=os.path.join(out, "graft-scratch"))
    subprocess.run(java_cmd(cp) + ["graft.Verify", data, out], env=env, check=True,
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=900)
    check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, out],
                           capture_output=True, text=True, timeout=900)
    verdicts = {q: "no oracle SQL" for q in queries}
    for ln in check.stdout.splitlines():
        if ln.startswith(("PASS ", "FAIL ")):
            name = ln.split()[1].rstrip(":")
            verdicts[name] = ln
    shutil.rmtree(out, ignore_errors=True)
    return verdicts


def record():
    """Re-record the pipeline checksums from the current code, and
    cross-check the same queries once against the DuckDB oracle."""
    cp = build()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)["workloads"]
    sums, oracle = {}, {}
    for name, w in workloads.items():
        if "queries" not in w:
            continue
        out = os.path.join(BUILD, f"record-{name}.json")
        run_jvm(cp, name, 1, 1, 0, time.time() * 1000, time.time() + 600,
                {"PERFBENCH_RECORD": out})
        with open(out) as fh:
            sums.update(json.load(fh))
        oracle.update(oracle_check(cp, os.path.join(ROOT, w["data"]), w["queries"]))
    path = os.path.join(HERE, "expected.json")
    with open(path) as fh:
        doc = json.load(fh)
    # A result the oracle rejects is a defect: list it, never expect it.
    doc["checksums"] = {q: v for q, v in sorted(sums.items()) if not oracle[q].startswith("FAIL")}
    doc["oracle_check"] = dict(sorted(oracle.items()))
    with open(path, "w") as fh:
        json.dump(doc, fh, indent=1)
        fh.write("\n")
    print(f"recorded {len(sums)} checksums into {path}")


def main():
    # Stopping this script stops the JVM too: it runs in its own process group.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    for need in ("src/main/scala", "perfbench/workloads.json", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a full checkout")
    if args.record:
        record()
        return
    with open(os.path.join(HERE, "workloads.json")) as fh:
        if args.workload not in json.load(fh)["workloads"]:
            fail(f"unknown workload {args.workload!r}")
    cp = build()
    # setup_s counts from here: compiling is not part of the program's set-up.
    launch_ms = time.time() * 1000
    cpu0 = cpu_times()
    detail, result = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                             launch_ms, time.time() + RUN_CAP_S)
    cpu1 = cpu_times()
    if cpu0 and cpu1 and len(cpu0) > 7:
        # Share of this run's CPU time the hypervisor gave to other guests.
        d = [b - a for a, b in zip(cpu0, cpu1)]
        detail["host_steal_frac"] = d[7] / max(1, sum(d))
    check_result(result, args.trace)
    print("detail: " + json.dumps(detail, sort_keys=False))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
