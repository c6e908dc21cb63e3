#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload trickle --seed 7 --seconds 15 --trace 0

Run from the repository root. The first run builds the harness and,
through the repository's own build, the engine (``sbt``, offline). Inputs
are generated from the seed into ``.perfbench_work/inputs`` and reused
while the seed and the generator are unchanged. Each run works in its own directory
under ``.perfbench_work`` and removes it on exit.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it reports the workload's own metric
names. The exit code is non-zero when any output check fails.
"""
import argparse
import contextlib
import glob
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

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("trickle", "dashboard")
RUN_LIMIT_S = 160  # the harness's share of a run's 180 s
JVM_OPTS = ["-Xmx3g", "-XX:+UseParallelGC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    h = hashlib.sha256()
    pats = ["build.sbt", "project/build.properties", "src/main/scala/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/**/*.scala"]
    for pat in pats:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, cwd, log_path, deadline, env=None):
    """Run ``cmd`` in its own process group with output to ``log_path``;
    the whole group is killed at ``deadline``. The exit code, or
    "timeout"."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return "timeout"


def build():
    """Compile engine + harness once per source state; the classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "perfbench-sources.sha256")
    fp = sources_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) \
            and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    log("building engine and harness (sbt, offline)")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    build_log = os.path.join(HERE, "target", "perfbench-build.log")
    os.makedirs(os.path.dirname(build_log), exist_ok=True)
    code = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     HERE, build_log, time.time() + 850, env)
    if code != 0 or not os.path.exists(cp_file):
        with open(build_log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: build failed ({code})")
    with open(stamp, "w") as f:
        f.write(fp)
    log(f"build took {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


@contextlib.contextmanager
def run_dir(work):
    """This run's own directory under ``work`` (warehouses, landing
    batches, checkpoints, Spark scratch), removed however the run ends."""
    d = os.path.join(work, f"run-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    try:
        yield d
    finally:
        shutil.rmtree(d, ignore_errors=True)


def run_jvm(cp, workload, inputs, run_dir, seconds, trace, deadline):
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "perfbench.Harness", workload, inputs, run_dir, out,
           str(seconds), str(trace)]
    code = run_child(cmd, run_dir, os.path.join(run_dir, "jvm.log"), deadline)
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness failed ({code})")
    with open(out) as f:
        return json.load(f)


def check_outputs(workload, result, inputs, meta):
    """Failed op ids -> reason, for every op whose output is wrong."""
    ops = result["measure"]["ops"]
    bad = {o["op"]: o["error"] for o in ops if "error" in o}
    good = [o for o in ops if "error" not in o]
    con = checks.connect()
    oracle = result["oracle"]
    landed = [f"{inputs}/snapshot/events.parquet/*.parquet"]
    checks.events_view(con, landed)
    setup = result["setup"]
    why = checks.table_diff(
        con, oracle["silver"], f"SELECT * FROM {checks.store(setup['silver'])}") \
        or checks.table_diff(
            con, oracle["forecast"], f"SELECT * FROM {checks.store(setup['forecast'])}")
    if why:
        bad["setup"] = "set-up backfill: " + why
    if workload == "trickle":
        landed.append(f"{inputs}/batches/b0000/*.parquet")
        failed_op = None
        for o in sorted(ops, key=lambda o: o["op"]):
            if failed_op is not None:
                # what a failed op landed is unknown: later stores cannot be
                # checked, so they do not count as correct
                bad.setdefault(o["op"], f"follows failed op {failed_op}")
                continue
            if o["op"] in bad:
                failed_op = o["op"]
                continue
            landed.append(f"{inputs}/batches/{o['batch']}/*.parquet")
            checks.events_view(con, landed)
            why = checks.table_diff(
                con, oracle["silver"], f"SELECT * FROM {checks.store(o['silver'])}")
            if not why and not o["bronze_unchanged"]:
                why = "replayed batch changed Bronze"
            if why:
                bad[o["op"]] = why
    elif workload == "dashboard":
        sites = set(meta["sites"])
        for o in good:
            if "not_found" in o:
                why = None if o["site"] not in sites else "known site raised 404"
            elif o["site"] not in sites and o["endpoint"] not in ("sites", "summary"):
                why = "unknown site did not raise UnknownSiteException"
            elif not o["consistent"]:
                why = "response differs from an earlier response of its key"
            else:
                why = None
            if why:
                bad[o["op"]] = why
        for key, rows in result["responses"].items():
            o = next(o for o in good if o["key"] == key)
            why = checks.api_diff(con, result["warehouse"], o["endpoint"],
                                  o["site"], o["hours"], rows)
            if why:
                for o2 in good:
                    if o2["key"] == key:
                        bad[o2["op"]] = why
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources not found; run from a "
                         "full checkout of the repository")
    cp = build()
    t0 = time.time()
    work = os.path.join(ROOT, ".perfbench_work")
    inputs = gen.ensure(os.path.join(work, "inputs"), args.seed)
    with open(os.path.join(inputs, "meta.json")) as f:
        meta = json.load(f)
    with run_dir(work) as d:
        t1 = time.time()
        result = run_jvm(cp, args.workload, inputs, d, args.seconds,
                         args.trace, t0 + RUN_LIMIT_S)
        t2 = time.time()
        bad = check_outputs(args.workload, result, inputs, meta)
        log(f"inputs {t1 - t0:.1f} s, harness {t2 - t1:.1f} s, "
            f"checks {time.time() - t2:.1f} s")
    for op, why in sorted(bad.items(), key=str)[:10]:
        log(f"op {op} failed: {why}")
    # the checked set-up backfill counts as one more op
    attempted = len(result["measure"]["ops"]) + 1
    launch_s = result["session_us"] / 1e6 - t0
    e2e = metrics.end_to_end(result, launch_s)
    if args.trace:
        values, units = metrics.per_layer(args.workload, result), metrics.PER_LAYER
    else:
        values, units = e2e, metrics.END_TO_END
    report = metrics.workload_report(args.workload, result, e2e)
    report["failed_frac"] = len(bad) / attempted if attempted else None
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "report": report}))
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": len(bad),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    sys.exit(1 if bad or attempted == 0 else 0)


if __name__ == "__main__":
    main()
