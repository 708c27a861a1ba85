#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 13 --trace 0

Run from the root of a checkout.  The first run builds the harness
(perfbench/, compiled with the engine's src/main) with sbt; later runs
reuse that build while the sources are unchanged.  Each run then:

  1. generates the workload's inputs from the seed (gen.py) into a
     fresh directory under perfbench/.run/, which is also the JVM's
     java.io.tmpdir and Spark's local dir, and is deleted at the end;
  2. starts one JVM (local[nproc], one client thread) that sets up,
     warms up, and then runs the workload closed-loop for as many
     whole rounds as fill --seconds;
  3. checks the outputs: dashboard roster results against
     DuckDB running the engine's oracle SQL (oracle.py), collector
     members against a one-shot rebuild (inside the JVM);
  4. prints every metric by name, then, as the last line, the result
     object: end-to-end metrics with --trace 0, per-layer metrics with
     --trace 1.  A traced run also writes the spans, every per-layer
     metric and the tracing overhead to perfbench/out/.

Workloads and metrics are described in BENCHMARK.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUN_LIMIT_S = 170
# wall time of one warm timed round (a roster pass, or a collector batch
# with its probes) on a 4-core host; a run times as many whole rounds
# as fill --seconds, so that runs with different seeds do the same work
NOMINAL_ROUND_S = {"dashboard": 4.5, "collector": 11.0}

# the JDK 17 module opens Spark needs outside spark-submit (the list
# the root build passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# the metrics every workload reports, by name and unit
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _BENCH["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _BENCH["per_layer"]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the harness build depends on."""
    roots = [os.path.join(HERE, "src"), os.path.join(REPO, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, _, fs in os.walk(r):
            files += [os.path.join(dp, f) for f in fs]
    return sorted(files)


def spark_home():
    """The Spark installation the harness compiles and runs against:
    $SPARK_HOME, or the first spark-submit on PATH that belongs to an
    installation with a jars/ directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")


def build():
    """Compiles the harness unless the stamped sources are unchanged;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        fail("no engine sources at src/main/scala; run from a checkout root")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp, cp_file = os.path.join(TARGET, "bench.stamp"), os.path.join(TARGET, "bench.classpath")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else []))
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=850)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"harness build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.startswith(TARGET)]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("harness build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lines[-1]


def heap():
    """Half of MemTotal, clamped to 2-8 GiB (the Tier-1 sizing)."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
                  if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_jvm(cp, args, root, deadline):
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={root}/tmp"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{root}/tmp")
    with open(f"{root}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0:
        sys.stderr.write(open(f"{root}/jvm.log").read()[-4000:])
        fail("the harness JVM " + ("timed out" if code is None else f"exited {code}"))


def tail(values):
    """The highest percentile with at least 10 samples beyond it, and
    its label; the maximum when there are fewer than 11 samples."""
    s = sorted(values)
    if len(s) < 11:
        return s[-1], f"p100 of {len(s)}"
    return s[len(s) - 11], f"p{100 * (len(s) - 10) // len(s)} of {len(s)}"


def timed_rounds(workload, seconds, trace):
    """Timed rounds of a run: at least 2, and a multiple of 4 in a
    traced run, which traces rounds 0 and 3 of every four."""
    n = max(2, math.ceil(seconds / NOMINAL_ROUND_S[workload]))
    return 4 * math.ceil(n / 4) if trace else n


def summarize(workload, res, setup_s, bad, ingest_rows):
    """(end-to-end metrics, named figures, attempted, failed), from
    the untraced rounds."""
    ops = [o for o in res["ops"] if not o["traced"]]
    rounds = [r["ms"] for r in res["rounds"] if not r["traced"]]
    kind = "commit" if workload == "collector" else "query"
    timed = [o for o in ops if o["kind"] == kind]
    failed = [o for o in ops if not o["ok"] or o["name"] in bad]
    lat = [o["ms"] for o in timed]
    t, label = tail(lat)
    loop_s = sum(rounds) / 1000
    metrics = {"setup_s": setup_s, "op_p50_ms": statistics.median(lat),
               "op_tail_ms": t, "ops_per_s": len(ops) / loop_s}
    named = {"setup_s": (setup_s, "s"),
             "failed_ratio": (len(failed) / len(ops), "ratio")}
    if workload == "collector":
        probes = [o["ms"] for o in ops if o["kind"] == "probe"]
        named.update({
            "commit_p50_ms": (metrics["op_p50_ms"], "ms"),
            "commit_tail_ms": (t, f"ms ({label})"),
            "ingest_rows_per_s": (ingest_rows / loop_s, "1/s"),
            "fresh_probe_p50_ms": (statistics.median(probes), "ms"),
            "space_amp": (res["figures"]["space_amp"], "ratio")})
    else:
        named.update({
            "query_p50_ms": (metrics["op_p50_ms"], "ms"),
            "query_tail_ms": (t, f"ms ({label})"),
            "queries_per_s": (len(timed) / loop_s, "1/s")})
    return metrics, named, len(ops), len(failed)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["dashboard", "collector"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(2))
    deadline = time.time() + RUN_LIMIT_S
    cp = build()
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)

    import gen
    import oracle
    t0 = time.time()
    root = os.path.join(HERE, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    try:
        rounds = timed_rounds(a.workload, a.seconds, a.trace)
        # the collector's batches: initial build, warm-up fold, timed
        gen.generate(a.workload, a.seed, root, batches=rounds + 2)
        print(f"generated inputs in {time.time() - t0:.1f} s", file=sys.stderr)
        cpus = str(len(os.sched_getaffinity(0)))
        run_jvm(cp, [a.workload, root, str(rounds), str(a.seed), str(a.trace), cpus],
                root, deadline)
        res = json.load(open(f"{root}/result.json"))
        print(f"harness JVM finished {time.time() - t0:.1f} s after start", file=sys.stderr)
        setup_s = res["first_op_epoch_ms"] / 1000 - t0
        checks = dict((k, (v, "")) for k, v in res["checks"].items())
        bad = set()
        if a.workload == "collector":
            bad = {k.split()[0] for k, (ok, _) in checks.items() if not ok}
        else:
            roster = sorted({o["name"] for o in res["ops"] if o["kind"] == "query"})
            t_check = time.time()
            checks = oracle.check(REPO, f"{root}/data", f"{root}/dump", roster)
            print(f"oracle check took {time.time() - t_check:.1f} s", file=sys.stderr)
            bad = {k for k, (ok, _) in checks.items() if not ok}
        ingest_rows = sum(gen.rows(f"{root}/collector/{o['name']}") for o in res["ops"]
                          if o["kind"] == "commit" and not o["traced"])
        metrics, named, attempted, failed = summarize(a.workload, res, setup_s, bad,
                                                      ingest_rows)
        for k, (ok, detail) in sorted(checks.items()):
            print(f"check {k}: {'ok' if ok else 'MISMATCH'} {detail}".rstrip())
        for e in res["errors"]:
            print(f"error {e}")
        by = {}
        for o in res["ops"]:
            by.setdefault((o["kind"], o["name"]), []).append(o["ms"])
        print("per-op medians ms: " + ", ".join(
            f"{k}:{n}={statistics.median(v):.0f}" for (k, n), v in sorted(by.items())))
        print("figures: " + ", ".join(f"{k}={v:.6g}" for k, v in res["figures"].items()))
        print("warm-up rounds ms: " + ", ".join(f"{x:.0f}" for x in res["warmup_ms"]))
        print("timed rounds ms: " + ", ".join(
            f"{r['ms']:.0f}{' (traced)' if r['traced'] else ''}" for r in res["rounds"]))
        print(f"{a.workload} seed {a.seed}: " + ", ".join(
            f"{k}={v:.6g} {u}" for k, (v, u) in named.items()))
        if a.trace:
            layers = res["layers"]
            print("layers: " + ", ".join(f"{k}={v['value']:.6g} {v['unit']}"
                                         for k, v in layers.items()))
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{a.workload}-seed{a.seed}.trace.json")
            with open(path, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "end_to_end": {k: v for k, (v, _) in named.items()},
                           "warmup_ms": res["warmup_ms"],
                           "layers": layers,
                           "spans": json.load(open(f"{root}/spans.json"))}, f)
            print(f"trace written to {os.path.relpath(path, REPO)}")
            shown = {k: {"value": layers[k]["value"], "unit": u} for k, u in PER_LAYER}
        else:
            shown = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END}
        print(json.dumps({"correct": not bad and not res["errors"],
                          "attempted": attempted, "failed": failed,
                          "metrics": shown}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
