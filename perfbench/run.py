#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload mart_build|sql_mix \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness
from source with sbt (once per source state; the classpath is kept under
`.bench_build/`), writes the workload's fixture from the seed, starts one
harness JVM, which sets up (timed as `setup_s`) and then measures for at
least S seconds, runs the DuckDB oracle (`tools/check.py`) over each op's
dumped output, and prints one JSON object as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end
metrics (`--trace 0`) or the per-layer ones (`--trace 1`) that
BENCHMARK.json names. Progress goes to stderr. Any failure to build or run
exits non-zero without a result.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")

# Fixture per workload: its scale factor, and the tables its ops read
# (their row counts are the input rows behind rows_per_s). See README.md
# for how the sizes were chosen.
WORKLOADS = {
    "mart_build": {"sf": 0.001, "tables": ["events"]},
    "sql_mix": {"sf": 0.01, "tables": gen.TABLES},
}
HEAP = "3g"
DEADLINE_S = 170        # a run must end within 180 s
BUILD_TIMEOUT_S = 840   # the first run in a checkout builds

# what `spark-submit` would pass on JDK 17 (as the repo's build.sbt does)
OPENS = [x for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                     "java.nio", "java.util", "java.util.concurrent",
                     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                     "sun.security.action", "sun.util.calendar"]
         for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    """Hash of everything the build compiles, to skip sbt when unchanged."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the harness; returns the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            raise BenchError(f"not a checkout of the program: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java are needed to build the program")
    os.makedirs(BUILD, exist_ok=True)
    cp_file, fp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "fingerprint.txt")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    log("building the program and the harness with sbt")
    t0 = time.perf_counter()
    if os.path.exists(cp_file):
        os.remove(cp_file)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        # its own process group: the sbt launcher script starts a JVM, and a
        # timeout must stop both
        sbt = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true", f"writeClasspath {cp_file}"],
                               cwd=HARNESS, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                               start_new_session=True)
        try:
            sbt.wait(timeout=BUILD_TIMEOUT_S)
        finally:
            if sbt.poll() is None:
                os.killpg(sbt.pid, signal.SIGKILL)
                sbt.wait()
    if sbt.returncode != 0 or not os.path.exists(cp_file):
        raise BenchError(f"sbt build failed (see {os.path.relpath(out.name, ROOT)})")
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.perf_counter() - t0:.1f} s")
    return open(cp_file).read().strip()


class Harness:
    """One harness JVM; `setup_s` is the time from its start to the end of
    its untimed set-up passes. It is killed at the deadline."""

    def __init__(self, cp, args, work, deadline):
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.err = open(os.path.join(work, "harness.log"), "w")
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", *OPENS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
             "perfbench.Harness", *args],
            cwd=work, stdout=subprocess.PIPE, stderr=self.err, stdin=subprocess.DEVNULL, text=True)
        self.watchdog = threading.Timer(max(0.0, deadline - time.monotonic()), self.proc.kill)
        self.watchdog.start()
        try:
            if not any(line.rstrip("\n") == "perfbench ready" for line in self.proc.stdout):
                raise BenchError(f"harness ended during set-up (exit {self.proc.wait()}); see harness.log")
        except BaseException:
            self.close()
            raise
        self.setup_s = time.perf_counter() - t0

    def finish(self):
        """Wait for the JVM to exit; returns the rest of its stdout."""
        try:
            out, _ = self.proc.communicate()
        finally:
            self.close()
        if self.proc.returncode != 0:
            raise BenchError(f"harness exited {self.proc.returncode} (killed at the deadline if negative); "
                             "see harness.log")
        return out

    def close(self):
        self.watchdog.cancel()
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()
        self.proc.stdout.close()
        self.err.close()


def oracle_check(data, dump, ops, deadline):
    """Run the repo's DuckDB oracle over the dumped outputs; returns the ops
    that do not match."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, dump, *ops],
                       cwd=ROOT, capture_output=True, text=True, timeout=max(1.0, deadline - time.monotonic()))
    ok = {op for op in ops if f"[{op}] OK" in r.stdout}
    bad = sorted(set(ops) - ok)
    if r.returncode not in (0, 1) or (r.returncode == 0) != (not bad):
        raise BenchError(f"oracle check did not run: {r.stderr.strip()[-500:]}")
    for op in bad:
        log(f"oracle mismatch: {op}: " + " | ".join(l for l in r.stdout.splitlines() if l.startswith(f"[{op}]")))
    return bad


def run(args):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    cp = build()
    deadline = time.monotonic() + DEADLINE_S  # the build has its own budget

    w = WORKLOADS[args.workload]
    work = os.path.join(BUILD, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    rows = gen.generate(data, args.seed, gen.sizes(w["sf"]), w["tables"])
    t_gen = time.perf_counter()
    input_rows = sum(rows.values())

    h = Harness(cp, ["--workload", args.workload, "--data", data, "--work", work,
                     "--seconds", str(args.seconds), "--trace", str(args.trace)], work, deadline)
    res = json.loads(h.finish().strip().splitlines()[-1])
    t_jvm = time.perf_counter()

    ops = res["ops"]
    bad = set(res["dump_failed"]) | set(oracle_check(data, os.path.join(work, "dump"), ops, deadline))
    log(f"fixture {t_gen - t0:.1f} s, setup {h.setup_s:.1f} s, timed passes and exit "
        f"{t_jvm - t_gen - h.setup_s:.1f} s, oracle {time.perf_counter() - t_jvm:.1f} s")
    passes = res["passes"]
    attempted = len(ops) * len(passes)
    threw = {op for p in passes for op in p["failed"]}
    failed = sum(1 for p in passes for op in ops if op in bad or op in p["failed"])
    for op in sorted(bad | threw):
        log(f"failing op: {op}")

    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    wall = statistics.median([p["wall_s"] for p in plain])
    log(f"{len(plain)} untraced passes, walls {', '.join('%.3f' % p['wall_s'] for p in plain)} s")
    if args.trace:
        values = {name: statistics.median([p["counters"][name] for p in traced]) for name in traced[0]["counters"]}
        values["trace.overhead_s"] = statistics.median([p["wall_s"] for p in traced]) - wall
        values["jvm.jit_s"] = statistics.median([p["jit_s"] for p in traced])
        values["jvm.gc_s"] = statistics.median([p["gc_s"] for p in traced])
        wanted = spec["per_layer"]
    else:
        values = {
            "setup_s": h.setup_s,
            "wall_s": wall,
            "rows_per_s": input_rows / wall,
            "cpu_s": statistics.median([p["cpu_s"] for p in plain]),
            "retained_heap_mb": statistics.median([p["heap_mb"] for p in plain]),
            "ok_ratio": (attempted - failed) / attempted,
        }
        wanted = spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values:
            raise BenchError(f"the harness did not measure {m['name']}")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        out = run(args)
    except (BenchError, OSError, subprocess.SubprocessError, ValueError, KeyError) as e:
        log(f"error: {e}")
        sys.exit(2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
