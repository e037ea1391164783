#!/usr/bin/env python3
"""Seeded benchmark for graft: sink ingest and a fixed query mix.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds graft's sources
together with the JVM driver in perfbench/src (sbt, offline) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse that build while
the sources are unchanged. Each run works in a fresh directory under
.bench_run/ (warehouse, checkpoints, Spark scratch) and deletes it on exit.

Workloads (README.md says why each exists):
  sink_bulk_json    json, 2000 messages per micro-batch, keys recur ~4x
  query_mix_sf0.1   9 SparkEntry queries over the fixed sf0.1 corpus in sf0.1/

With --refresh-expected the query mix checks every result that has a
`SparkEntry.oracleSql` twin against that twin in DuckDB and, if all agree,
rewrites the stored expected values (expected_sf0.1.json).

The last stdout line is one JSON object: correct, attempted, failed and the
metrics of the mode (--trace 0: end-to-end, --trace 1: per-layer). The line
before it starts with "# detail" and carries provenance (source hash, git
SHA when there is one, seed, Spark confs, heap) and the workload's own
figures under their plain names (ingest_msgs_per_s, batch_ms_p50,
mix_pass_s, failed_frac, host.control_ms at start and end, ...).
"""
import argparse
import atexit
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # verify.py leaves no __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("sink_bulk_json", "query_mix_sf0.1")
CORPUS = os.path.join(HERE, "sf0.1")
RUN_BUDGET_S = 170
VERIFY_RESERVE_S = 15
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def host_control_ms():
    """Median of three timings of a fixed single-thread interpreter loop:
    a host-speed reference, independent of graft and of JIT warm-up."""
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for _ in range(300_000):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
        samples.append((time.perf_counter() - t0) * 1000)
    return statistics.median(samples)


def source_hash():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (GRAFT_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir, stamp):
    """Compiles once per source state; returns the JVM classpath."""
    os.makedirs(build_dir, exist_ok=True)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    with open(os.path.join(build_dir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return open(cp_file).read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        opts = env.get("SBT_OPTS", "").split()
        if not opts:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        # sbt's scratch (server socket, staging) stays inside the build dir.
        tmp = os.path.join(build_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts += [f"-Djava.io.tmpdir={tmp}", f"-Dsbt.global.base={build_dir}/sbt-global",
                 "-Dsbt.server.autostart=false", "-XX:-UsePerfData"]
        env["SBT_OPTS"] = " ".join(opts)
        target = os.path.join(build_dir, "sbt")
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dgraftbench.target={target}",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=840)
        sys.stderr.write(res.stdout[-4000:])
        if res.returncode != 0:
            fail("build failed")
        cp = [ln for ln in res.stdout.splitlines() if ln.startswith(target)][-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


class Run:
    """The run directory and the JVM; both are gone when the process exits."""

    def __init__(self, path):
        self.path = path
        self.proc = None
        os.makedirs(os.path.join(path, "tmp"))
        atexit.register(self.close)
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, lambda *_: sys.exit(3))

    def close(self):
        if self.proc and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        shutil.rmtree(self.path, ignore_errors=True)

    def jvm(self, classpath, argv, deadline_s):
        log_path = os.path.join(self.path, "jvm.log")
        with open(log_path, "w") as log:
            self.proc = subprocess.Popen(
                ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={self.path}/tmp",
                 *[f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS],
                 "-cp", classpath, "graftbench.Main", *argv],
                stdout=subprocess.PIPE, stderr=log, text=True, cwd=self.path)
            try:
                out, _ = self.proc.communicate(timeout=deadline_s)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
                fail(f"JVM exceeded {deadline_s:.0f} s")
        lines = [ln for ln in out.splitlines() if ln.startswith("GRAFTBENCH ")]
        if self.proc.returncode != 0 or not lines:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"JVM exited {self.proc.returncode} without a result")
        return json.loads(lines[-1][len("GRAFTBENCH "):])


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--refresh-expected", action="store_true")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        fail(f"graft sources not found under {GRAFT_SRC}; run from a source checkout")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    control_start = host_control_ms()
    stamp = source_hash()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    before_build = time.monotonic() - t_start
    classpath = build(build_dir, stamp)
    # The run's own budget, build excluded; the result check needs the rest.
    deadline = time.monotonic() + RUN_BUDGET_S - before_build

    run = Run(os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}"))
    cores = len(os.sched_getaffinity(0))
    argv = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--run-dir", run.path, "--cores", str(cores)]
    query_mix = a.workload.startswith("query_mix")
    if query_mix:
        argv += ["--corpus", CORPUS]
    res = run.jvm(classpath, argv, deadline - VERIFY_RESERVE_S - time.monotonic())

    attempted, failed = int(res["attempted"]), int(res["failed"])
    detail = dict(res["detail"])
    if query_mix:
        import verify
        verify_dir = os.path.join(run.path, "verify")
        if a.refresh_expected:
            if failed:
                fail(f"{failed} queries failed; expected values not refreshed")
            failures = verify.refresh(verify_dir, CORPUS)
            if failures:
                for name, why in failures:
                    print(f"graftbench: {name} differs from its DuckDB twin: {why}", file=sys.stderr)
                fail("expected values not refreshed")
        checked, failures = verify.verify(verify_dir)
        failed += len(failures)
        detail["verified_queries"] = checked
        detail["verify_failures"] = failures
        for name, why in failures:
            print(f"graftbench: {name} result check failed: {why}", file=sys.stderr)
    control_end = host_control_ms()

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = dict(res["metrics"])
    got["host.control_ms"] = {"value": statistics.mean([control_start, control_end]), "unit": "ms"}
    unknown = sorted(set(got) - {m["name"] for m in spec["per_layer"] + spec["end_to_end"]})
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    for m in wanted:
        # A layer the workload does not exercise did no work: 0.
        v = got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
        if v["unit"] != m["unit"]:
            fail(f"{m['name']} unit {v['unit']} != {m['unit']}")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}

    detail.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cores": cores, "source_sha256": stamp, "git_sha": git_sha(),
        "failed_frac": failed / max(attempted, 1),
        "host.control_ms_start": control_start, "host.control_ms_end": control_end,
    })
    if a.workload.startswith("sink"):
        detail["write_stage"] = "stand-in DB (in-process keyed upsert), not PostgreSQL"
    print("# detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
