#!/usr/bin/env python3
"""Ride-analysis benchmark for the VESC telemetry engine.

    python3 perfbench/run.py --workload ride_short --seed 1 --seconds 15 --trace 0

Generates seeded synthetic ride logs, builds the program and the driver
from source (``perfbench/build.sbt``, once per checkout), drives the
workload through the program's public entry points in one JVM with one
Spark session on every core, checks every output against the generator's
records, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, from a run that times each layer from outside and reads Spark's own
counters for each span (see ``Driver.scala``, ``rollup.py``).

Workloads (one client, closed loop; warm-up calls are excluded, and a run
reports the median of at least three ops):

* ``ride_short``  - ``analyze`` on a pool of distinct 2,000-row logs
* ``ride_long``   - ``analyze`` on one 40,000-row log
* ``upload_loop`` - POST a 2,000-row log to the running ``App``, poll
  ``last_refresh.json``, GET ``/figure``
* ``fleet``       - one ``analyze`` over 16 logs, each in its own
  ``ride log NN/`` directory, compared ride by ride with each log
  analysed alone

``BENCHMARK.json`` gates ``ride_short`` and ``upload_loop``. ``ride_long``
and ``fleet`` run the same way but are not gated: on a shared 4-core box a
long single-task ride varies by about a fifth from run to run, and today
``fleet`` fails its check (its logs merge into one ride, ROADMAP 4a).
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import rollup  # noqa: E402

LAUNCH = os.path.join(HERE, "target", "launch.txt")
WORK = os.path.join(HERE, "work")
POLL_MS = 20
HEAP = "3g"  # also the initial heap, so heap growth does not vary by run
RUN_LIMIT_S = 175
# the first op in a JVM runs about twice as long as a warm one, and ops keep
# getting faster for several more, so the driver makes its warm-up calls at
# once. An upload workload warms up with one upload beside two calls that do
# App.refresh's work: with one plain analysis beside it instead, its first
# five measured ops each ran ~5% faster than the one before
WARMUP_CALLS = {"analyze": 2, "upload": 3}
# a run measures at least this many ops (unless its workload says
# otherwise), and reports their median
MIN_OPS = 3

# fleet's limit is wider and it measures one op: today its 16 logs merge
# into one ride spanning the day (ROADMAP 4a), one call takes about a
# minute, and a traced fleet run about 4 minutes
WORKLOADS = {
    "ride_short": {"kind": "analyze", "rows": 2000, "logs": 8},
    "ride_long": {"kind": "analyze", "rows": 40000, "logs": 1},
    "upload_loop": {"kind": "upload", "rows": 2000, "logs": 8},
    "fleet": {"kind": "analyze", "rows": 2000, "logs": 16, "fleet": True, "limit_s": 420,
              "min_ops": 1},
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log("perfbench: " + msg)
    sys.exit(2)


# ---- build --------------------------------------------------------------

def _newest_source():
    newest = 0.0
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        if os.path.isfile(top):
            newest = max(newest, os.path.getmtime(top))
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the program and the driver with sbt, unless up to date."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("the program's sources (../build.sbt, ../src/main) are missing")
    if os.path.isfile(LAUNCH) and os.path.getmtime(LAUNCH) >= _newest_source():
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    t0 = time.time()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    if p.returncode != 0 or not os.path.isfile(LAUNCH):
        fail("build failed (see perfbench/work/build.log)")
    log("perfbench: built in %.1f s" % (time.time() - t0))


# ---- inputs -------------------------------------------------------------

def make_inputs(workload, seed, wdir):
    """Generate the workload's logs; return (spec, {path: record})."""
    w = WORKLOADS[workload]
    logs = os.path.join(wdir, "logs")
    recs = {}

    def add(sub, rows, count, fleet=False):
        out = os.path.join(logs, sub)
        paths = []
        for r in gen.generate(out, seed, rows, count, prefix=sub + "_", fleet=fleet):
            p = os.path.join(out, r["file"])
            recs[p] = r
            paths.append(p)
        return paths

    warm = add("warm", 2000, WARMUP_CALLS[w["kind"]])
    pool = add("pool", w["rows"], w["logs"], fleet=w.get("fleet", False))
    ops = [pool] if w.get("fleet") else [[p] for p in pool]
    spec = {"work": wdir, "poll_ms": POLL_MS, "kind": w["kind"],
            "min_ops": w.get("min_ops", MIN_OPS),
            "warmup": [[p] for p in warm], "ops": ops, "probe": ops[0],
            "probe_upload": warm[:1],
            "refs": bool(w.get("fleet"))}
    return spec, recs


# ---- run ----------------------------------------------------------------

def run_driver(spec, seconds, trace, wdir, deadline):
    with open(LAUNCH) as f:
        lines = [ln for ln in f.read().split("\n") if ln]
    cp, opts = lines[0], lines[1:]
    tmp = os.path.join(wdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spec_path = os.path.join(wdir, "spec.json")
    out_path = os.path.join(wdir, "result.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_LOCAL_DIRS=tmp)
    env.pop("SPARK_DRIVER_MEM", None)
    cmd = (["java", "-Xmx" + HEAP, "-Xms" + HEAP, "-Djava.io.tmpdir=" + tmp] + opts +
           ["-cp", cp, "perfbench.Driver", "--spec", spec_path, "--out", out_path,
            "--seconds", str(seconds), "--trace", str(trace)])
    with open(os.path.join(wdir, "driver.log"), "w") as out:
        try:
            p = subprocess.run(cmd, cwd=wdir, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("driver did not finish in time (see %s/driver.log)" % wdir)
    if p.returncode != 0 or not os.path.isfile(out_path):
        fail("driver failed with code %d (see %s/driver.log)" % (p.returncode, wdir))
    with open(out_path) as f:
        return json.load(f)


def check_op(op, recs, refs, layer_attrs=None):
    """(problems, rides passing) for one op."""
    if "error" in op:
        return ["error: " + op["error"]], 0
    logs = [recs[p] for p in op["paths"]]
    if layer_attrs is not None:
        problems = checks.check_layers(layer_attrs, logs)
        if problems:
            return problems, 0
    if op["kind"] == "upload":
        problems = checks.check_figure(op["figure"], op["refresh"], logs[0])
        return problems, 0 if problems else 1
    problems = checks.check_timeline(op["columns"], op["rows"], logs)
    if len(logs) > 1:
        ok = checks.rides_matching(op["columns"], op["rows"], refs)
        if ok < len(logs):
            problems.append("%d of %d rides equal their log analysed alone" % (ok, len(logs)))
        return problems, ok
    return problems, 0 if problems else 1


def main():
    ap = argparse.ArgumentParser(description="VESC ride-analysis benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + WORKLOADS[a.workload].get("limit_s", RUN_LIMIT_S)

    build()
    wdir = os.path.join(WORK, a.workload)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    spec, recs = make_inputs(a.workload, a.seed, wdir)
    if WORKLOADS[a.workload]["kind"] == "upload":
        log("perfbench: upload_loop polls last_refresh.json every %d ms" % POLL_MS)
    result = run_driver(spec, a.seconds, a.trace, wdir, deadline)
    ops = result["ops"]

    refs = [(o["columns"], o["rows"]) for o in ops
            if o["phase"] == "ref" and "error" not in o]
    layer_attrs = {s["op"]: s["attrs"] for s in result["spans"] if s["name"] == "layers"}
    attempted = failed = 0
    measured = []
    for i, op in enumerate(ops):
        if op["phase"] in ("warmup", "ref"):
            continue
        problems, rides_ok = check_op(op, recs, refs, layer_attrs.get(i))
        for p in problems[:5]:
            log("perfbench: op %s/%s %s: %s" % (op["phase"], op["kind"],
                                               os.path.basename(op["paths"][0]), p))
        attempted += 1
        failed += 1 if problems else 0
        if op["phase"] == "measure":
            measured.append((op, rides_ok))
    refs_ok = True
    for o in ops:
        if o["phase"] == "ref":
            problems, _ = check_op(o, recs, [])
            if problems:
                refs_ok = False
                log("perfbench: reference op failed: %s" % problems[:3])

    walls = [o["wall_s"] for o, _ in measured]
    log("perfbench: %s setup_s=%s op walls=%s" % (
        a.workload, ["%.3f" % s for s in result["setup_s"]], ["%.3f" % w for w in walls]))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"]
                 for m in json.load(f)["per_layer" if a.trace else "end_to_end"]}
    if a.trace == 0:
        metrics = {
            "setup_s": statistics.median(result["setup_s"]),
            "latency_p50_s": statistics.median(walls),
            "rows_per_s": statistics.median(
                sum(recs[p]["rows"] for p in o["paths"]) / o["wall_s"] for o, _ in measured),
            "rides_ok_per_s": statistics.median(k / o["wall_s"] for o, k in measured),
        }
    else:
        metrics = rollup.per_layer(result, lambda ps: sum(recs[p]["rows"] for p in ps))
        traced = [o["wall_s"] for o in ops if o["phase"] == "traced"
                  and o["kind"] == spec["kind"] and "error" not in o]
        metrics["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(walls)
        metrics["latency_p90_s"] = (statistics.quantiles(walls, n=10)[8]
                                    if len(walls) > 1 else walls[0])
        metrics["failed_ratio"] = failed / attempted
        log("perfbench: latency_p90_s from %d samples (ungated)" % len(walls))
        with open(os.path.join(wdir, "trace.json"), "w") as f:
            selft = rollup.self_times(result["spans"])
            json.dump([dict(s, self_s=selft[s["id"]],
                            counters=rollup.totals(rollup.jobs_of(result["counters"], [s])))
                       for s in result["spans"]], f, indent=1)
    bad = [k for k in units if not math.isfinite(metrics[k])]
    if bad:
        fail("no measurement for %s" % bad)
    out = {"correct": failed == 0 and attempted > 0 and refs_ok, "attempted": attempted,
           "failed": failed,
           "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
