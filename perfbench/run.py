#!/usr/bin/env python3
"""The repository benchmark: one seeded workload per call.

    python3 perfbench/run.py --workload serve|batch \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine and the benchmark from
source (perfbench/build.py), starts one JVM on local[nproc], and prints a
human-readable report followed, as the last line of standard output, by
one JSON object {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics, and the spans of the run go to
.bench_build/traces/<workload>-seed<N>.json.

    python3 perfbench/run.py --pin 100   # re-pin corpus fingerprints

Everything the run writes stays under .bench_build/; the run's corpora,
indexes and Spark scratch live in one temp directory that is removed on
exit, and any leftover there or in /dev/shm counts as a failed check.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = os.getcwd()
BUILD_DIR = os.path.join(ROOT, ".bench_build")
PINS = os.path.join(HERE, "pins.json")
TIME_UNITS = {"s", "ms", "us", "ns"}
# A run must end within 180 s; leave room for start-up and cleanup.
JVM_TIMEOUT_S = 170
# A fixed heap, so runs compare; what the program keeps of it is
# peak_live_mb, and heap pressure shows in spark.gc_s and failures.
HEAP = ["-Xms2g", "-Xmx2g"]


def shm_entries():
    try:
        return set(os.listdir("/dev/shm"))
    except OSError:
        return set()


def files_under(d):
    return [os.path.join(b, f) for b, _, fs in os.walk(d) for f in fs] if os.path.isdir(d) else []


class Jvm:
    """One benchmark JVM; stopped and reaped on every exit path."""

    def __init__(self, cmd, env, stdout):
        self.p = subprocess.Popen(cmd, stdout=stdout, stderr=sys.stderr, env=env,
                                  start_new_session=True)
        self.rss_mb = None

    def wait(self, timeout):
        """Exit code; the peak RSS of the JVM itself comes with it."""
        deadline = time.time() + timeout
        while True:
            pid, status, ru = os.wait4(self.p.pid, os.WNOHANG)
            if pid:
                self.p.returncode = os.waitstatus_to_exitcode(status)
                self.rss_mb = ru.ru_maxrss / 1024.0  # KiB on Linux
                return self.p.returncode
            if time.time() > deadline:
                self.kill()
                raise SystemExit(f"perfbench: JVM exceeded {timeout}s and was killed")
            time.sleep(0.05)

    def kill(self):
        if self.p.returncode is None:
            try:
                os.killpg(self.p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            try:
                _, status, _ = os.wait4(self.p.pid, 0)
                self.p.returncode = os.waitstatus_to_exitcode(status)
            except ChildProcessError:
                self.p.returncode = -9


def jvm_cmd(cp, work, args):
    return (["java"] + HEAP + build.java_opts() + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                                    "-cp", cp, "perfbench.Main",
                                    "--work", work, "--cpus", str(build.nproc())] + args)


def run_jvm(cp, work, args):
    """Runs the JVM to completion; returns (exit code, its stdout, peak RSS MB)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "jvm.out")
    with open(log, "w") as out:
        jvm = Jvm(jvm_cmd(cp, work, args), env, out)
    try:
        code = jvm.wait(JVM_TIMEOUT_S)
    finally:
        jvm.kill()
    with open(log) as f:
        return code, f.read(), jvm.rss_mb


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pin(cp, seeds):
    os.makedirs(BUILD_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix="pin-", dir=BUILD_DIR)
    try:
        out = os.path.join(work, "pins.json")
        code, stdout, _ = run_jvm(cp, work, ["--mode", "pin", "--seeds", str(seeds), "--out", out])
        sys.stdout.write(stdout)
        if code != 0:
            raise SystemExit(f"perfbench: pin JVM exited with {code}")
        with open(out) as f:
            pins = json.load(f)
        with open(PINS, "w") as f:
            json.dump({w: {k: pins[w][k] for k in sorted(pins[w], key=int)} for w in sorted(pins)},
                      f, indent=1)
            f.write("\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(res, workload, seed, trace, rss_mb, checks):
    print(f"perfbench {workload} seed={seed} trace={trace} cpus={build.nproc()}")
    print(f"  peak_rss_mb {rss_mb:.1f} (the JVM process, heap fixed at 2 GiB)")
    for k, v in res.get("e2e", {}).items():
        print(f"  {k} {v:.6g}")
    for c, st in sorted(res.get("classes", {}).items()):
        print(f"  call {c}: " + " ".join(f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
                                         for k, v in st.items()))
    for k, v in res.get("report", {}).items():
        if isinstance(v, dict):
            v = " ".join(f"{a}={b:.1f}" for a, b in sorted(v.items()))
            print(f"  {k} {v}")
        else:
            print(f"  {k} {v:.6g}")
    for k, v in res.get("layer", {}).items():
        print(f"  layer {k} {v:.6g}")
    for name, ok in checks:
        print(f"  check {name}: {'ok' if ok else 'FAILED'}")
    for f in res.get("failures", []):
        print(f"  failure: {f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", type=int, metavar="SEEDS", help="re-pin fingerprints for seeds 0..SEEDS-1")
    a = ap.parse_args()
    # SIGTERM unwinds like Ctrl-C: the compiler or JVM is killed and the
    # temp dir removed on the way out
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))

    cp = build.build()
    if a.pin:
        pin(cp, a.pin)
        return
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names or a.seed is None or a.seconds is None or a.seconds <= 0:
        ap.error(f"need --workload one of {names}, --seed and --seconds > 0")
    with open(PINS) as f:
        pins = json.load(f)[a.workload]

    os.makedirs(BUILD_DIR, exist_ok=True)
    for stale in os.listdir(BUILD_DIR):  # left by a run that was killed
        if stale.startswith("work-"):
            shutil.rmtree(os.path.join(BUILD_DIR, stale), ignore_errors=True)
    work = tempfile.mkdtemp(prefix="work-", dir=BUILD_DIR)
    shm_before = shm_entries()
    try:
        out = os.path.join(work, "result.json")
        args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out]
        canary = None
        if str(a.seed) not in pins:  # the pinned seed this one checks the generator on
            canary = str(a.seed % len(pins))
            args += ["--canary", canary]
        if a.trace:
            traces = os.path.join(BUILD_DIR, "traces")
            os.makedirs(traces, exist_ok=True)
            args += ["--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
        code, stdout, rss_mb = run_jvm(cp, work, args)
        sys.stderr.write(stdout)
        if code != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: JVM exited with {code} and no result")
        with open(out) as f:
            res = json.load(f)
        leftovers = files_under(os.path.join(work, "data")) + files_under(os.path.join(work, "spark-local"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    new_shm = sorted(shm_entries() - shm_before)

    checks = [("input fingerprint pinned", res.get("fingerprint") == pins.get(str(a.seed))
               if canary is None else res.get("canary") == pins.get(canary)),
              ("no leftovers in the run's temp dir", not leftovers and not os.path.exists(work)),
              ("no leftovers in /dev/shm", not new_shm)]
    attempted = int(res["attempted"]) + len(checks)
    failed = int(res["failed"]) + sum(1 for _, ok in checks if not ok)

    measured = res.get("e2e", {}) if a.trace == 0 else res.get("layer", {})
    declared = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics = {}
    for m in declared:
        v = measured.get(m["name"])
        if v is None:
            # a layer this workload never reaches did no work; a time, the
            # tracing numbers and every end-to-end metric must be measured
            if a.trace == 0 or m["unit"] in TIME_UNITS or m["name"].startswith("trace."):
                raise SystemExit(f"perfbench: metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    report(res, a.workload, a.seed, a.trace, rss_mb, checks)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
