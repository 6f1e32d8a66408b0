#!/usr/bin/env python3
"""Lakehouse pipeline benchmark: one command per workload.

    python3 perfbench/run.py --workload backfill|live \
        --seed N --seconds S --trace 0|1

Builds the program from source (the repository's own sbt build plus the
JVM runner in perfbench/src), generates the workload's trades from the seed,
drives the pipeline through its public entry points in a fresh JVM, checks
the gold sink and every analytics result against the generator's own
expected bars, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 a run
with listeners and spans reports the per-layer ones, the tracing overhead
and a single-core baseline. Work files go to .bench_build/ in the checkout.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics as M  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
CORES = len(os.sched_getaffinity(0))

WORKLOADS = ("backfill", "live")  # why each: perfbench/NOTES.md
HISTORY_TRADES = 150_000   # the backfill history
BASELINE_TRADES = 50_000   # the traced run's single-core baseline history
ANALYST_PAIRS = 11         # scan + point pairs of the analyst loop

JAVA_OPTS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
     "-Dspark.ui.enabled=false",
     "-Dspark.sql.session.timeZone=UTC"]


def cpu_times():
    """(busy, steal) jiffies of the whole machine, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7]
    except (OSError, ValueError, IndexError):
        return 0, 0


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + runner with sbt (offline); returns the classpath."""
    for need in ("build.sbt", "src"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit("perfbench: no program to build here (missing %s)"
                             % need)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every sbt state, lock and temp directory inside the checkout
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Dsbt.ivy.home=" + os.path.join(BUILD, "ivy"),
           "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp,
           "-J-XX:-UsePerfData", "-J-Xmx2g", "benchClasspath"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd[1:1] = ["-Dsbt.override.build.repos=true",
                    "-Dsbt.repository.config=" + repos]
    # also reaches the JVMs the sbt script starts on its own (version probe)
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=tmp,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=" + tmp)
    log("building: " + " ".join(cmd))
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
    if rc != 0:
        raise SystemExit("perfbench: build failed (see .bench_build/build.log)")
    log("built in %.0f s" % (time.time() - t0))
    with open(os.path.join(HERE, "target", "bench-classpath.txt")) as f:
        cp = f.read().strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- running

def gen_history(work, name, seed, trades):
    d = os.path.join(work, name)
    os.makedirs(d, exist_ok=True)
    return d, [sys.executable, os.path.join(HERE, "gen.py"), "history",
               "--seed", str(seed), "--trades", str(trades),
               "--out", os.path.join(d, "landing"),
               "--expected", os.path.join(d, "expected.csv"),
               "--report", os.path.join(d, "report.json")]


def run_jvm(cp, work, mode, cores, trace, seconds, extra):
    out = os.path.join(work, "result-%s-%d.json" % (mode, cores))
    kv = dict(mode=mode, cores=cores, work=os.path.join(work, "jvm-%d" % cores),
              out=out, trace=trace, seconds=seconds, **extra)
    os.makedirs(kv["work"], exist_ok=True)
    tmp = os.path.join(kv["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JAVA_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
                                  "perfbench.Runner"]
    cmd += ["%s=%s" % (k, v) for k, v in kv.items()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(kv["work"], "spark-local"))
    env.pop("SPARK_GRAFT_STREAM_PROFILE", None)
    with open(os.path.join(work, "jvm-%s-%d.log" % (mode, cores)), "w") as err:
        # own process group, so a stop also reaches the live generator it starts
        return out, subprocess.Popen(cmd, stdout=subprocess.DEVNULL, stderr=err,
                                     stdin=subprocess.DEVNULL, env=env,
                                     start_new_session=True)


def stop_all(procs):
    """Stop every process group still holding a member, then reap."""
    for p in procs:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def wait(proc, what, timeout):
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: %s timed out" % what)
    if rc != 0:
        raise SystemExit("perfbench: %s exited with %d" % (what, rc))


def load(path):
    with open(path) as f:
        return json.load(f)


def execute(args, cp, work, procs):
    """Set up, run the workload's JVM and return (raw result, inputs,
    baseline). Every process started is appended to `procs`."""
    t_setup = time.time() * 1000
    inputs = {}
    # the analyst loop's point-query symbols, one per pair, from the seed
    pts = os.path.join(work, "points.txt")
    with open(pts, "w") as f:
        f.write("\n".join(gen.zipf_picks(args.seed, ANALYST_PAIRS)) + "\n")
    if args.workload == "backfill":
        hist, cmd = gen_history(work, "history", args.seed, HISTORY_TRADES)
        cmds = [cmd]
        inputs["history"] = hist
        extra = dict(landing=os.path.join(hist, "landing"),
                     expected=os.path.join(hist, "expected.csv"))
        if args.trace == 1:
            bl, bcmd = gen_history(work, "baseline", args.seed + 7919,
                                   BASELINE_TRADES)
            cmds.append(bcmd)
            inputs["baseline"] = bl
            extra["baseline_landing"] = os.path.join(bl, "landing")
        # the generators run beside the JVM's start-up (it waits for them)
        procs += [subprocess.Popen(c, stdin=subprocess.DEVNULL,
                                   start_new_session=True) for c in cmds]
    else:
        live = os.path.join(work, "live-gen")
        os.makedirs(live, exist_ok=True)
        gen_cmd = os.path.join(live, "cmd.txt")
        with open(gen_cmd, "w") as f:
            f.write("\n".join([sys.executable, os.path.join(HERE, "gen.py"),
                               "live", "--seed", str(args.seed),
                               "--expected", os.path.join(live, "expected.csv")])
                    + "\n")
        inputs["live"] = live
        extra = dict(gen_cmd_file=gen_cmd,
                     expected=os.path.join(live, "expected.csv"))
    extra["point_symbols"] = pts
    gens = list(procs)
    out, jvm = run_jvm(cp, work, args.workload, CORES, args.trace,
                       args.seconds, extra)
    procs.append(jvm)
    for p in gens:
        wait(p, "generator", 170)
    wait(jvm, "runner", 175 - (time.time() * 1000 - t_setup) / 1000)
    raw = load(out)
    raw["setup_start_ms"] = t_setup
    base = None
    if args.trace == 1 and args.workload == "backfill":
        # single-core baseline: the small history drained warm at local[1],
        # against the same drain at this machine's cores in the main run
        bout, bjvm = run_jvm(cp, work, "baseline", 1, 0, args.seconds,
                             dict(landing=extra["baseline_landing"]))
        procs.append(bjvm)
        wait(bjvm, "baseline runner", 175 - (time.time() * 1000 - t_setup) / 1000)
        n = load(os.path.join(inputs["baseline"], "report.json"))["valid_trades"]
        b = load(bout)
        base = {"local1": M.drain_rate(b["drains"][0], n),
                "localN": M.drain_rate(raw["scale_drain"], n)}
    return raw, inputs, base


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    cp = build()
    work = os.path.join(BUILD, "run-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpu0 = cpu_times()
    procs = []
    try:
        raw, inputs, base = execute(args, cp, work, procs)
        report = M.evaluate(args.workload, raw, inputs, base, args.trace, CORES)
    finally:
        stop_all(procs)
        shutil.rmtree(work, ignore_errors=True)
    busy, steal = (b - a for a, b in zip(cpu0, cpu_times()))
    # time the hypervisor gave to other guests: a noisy-neighbour gauge
    report["notes"].append("cpu steal during the run: %.1f%% of busy time"
                           % (100.0 * steal / max(1, busy + steal)))
    trace_path = os.path.join(BUILD, "report-%s-seed%d-trace%d.json"
                              % (args.workload, args.seed, args.trace))
    with open(trace_path, "w") as f:
        json.dump(report["detail"], f, indent=1)
    for line in report["notes"]:
        print(line)
    print(json.dumps(report["result"]))
    return 0 if report["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
