#!/usr/bin/env python3
"""Benchmark for graft: its consume loop and its batch query suite.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark from source with sbt when their sources
changed since the last build, then runs one workload in a fresh JVM and
prints one JSON object as the last line of stdout. With --trace 1 it
reports the traced run's per-layer metrics plus what tracing cost against
the untraced run of the same seed and build (run first when this checkout
has none yet).
Workloads, metrics and the layer-to-metric mapping are described in
perfbench/CONTRACT.md.
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
WORKLOADS = ("ingest", "query_mix")
DATA = os.path.join(HERE, "data", "sf0.01")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = os.path.join(HERE, "conf", "add-opens.txt")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Hash of every input of the build: graft's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {timeout} s")
    return proc.returncode, out


def build():
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"], digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
         "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    sys.stderr.write(out)
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath, digest


def run_jvm(classpath, args, trace, deadline):
    """One fresh JVM for one run; returns its result object and stdout."""
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["GRAFT_STAGE_CACHE"] = os.path.join(work, "stage_cache")
    cmd = ["java"]
    with open(ADD_OPENS) as fh:
        for p in fh.read().split():
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'conf', 'log4j2.properties')}",
            "-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", trace,
            "--workdir", work, "--out", os.path.join(HERE, "out"), "--data", DATA]
    t0 = time.time()
    try:
        rc, out = run_bounded(cmd, max(deadline - t0, 1), cwd=ROOT, env=env,
                              stdout=subprocess.PIPE, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1]) if rc == 0 and lines else None
    except ValueError:
        result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        fail(f"run failed (java exit {rc}) after {time.time() - t0:.1f} s")
    return result, "\n".join(lines[:-1])


def pick(result, specs, fill):
    """The metrics `specs` names, in their order; a per-layer metric the
    workload does not measure reads 0 (`fill`), an end-to-end one is an error."""
    got = result["metrics"]
    out = {}
    for m in specs:
        name = m["name"]
        if name in got:
            if got[name]["unit"] != m["unit"]:
                fail(f"{name} came in {got[name]['unit']}, not {m['unit']}")
            out[name] = got[name]
        elif fill:
            out[name] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"the run printed no {name}")
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from the root of a graft checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath, digest = build()
    deadline = time.time() + RUN_TIMEOUT_S

    # the untraced result of each seed is kept for the traced run of that
    # seed, which reports what tracing costs against it
    cached = os.path.join(HERE, "out", f"untraced-{args.workload}-seed{args.seed}-"
                          f"{args.seconds}s-{digest[:16]}.json")
    ran = []  # the runs this call made: their operations are the ones it reports
    if args.trace == "1" and os.path.exists(cached):
        with open(cached) as fh:
            plain, log = json.load(fh), f"untraced run of this seed: {cached}"
    else:
        plain, log = run_jvm(classpath, args, "0", deadline)
        ran.append(plain)
        os.makedirs(os.path.dirname(cached), exist_ok=True)
        with open(cached, "w") as fh:
            json.dump(plain, fh)
    if args.trace == "0":
        result = dict(plain, metrics=pick(plain, spec["end_to_end"], fill=False))
    else:
        traced, tlog = run_jvm(classpath, args, "1", deadline)
        ran.append(traced)
        log += "\n" + tlog
        metrics = pick(traced, spec["per_layer"], fill=True)
        # what tracing costs: the traced run's rate against the untraced one's
        rate = lambda r: r["metrics"]["rate_per_s"]["value"]
        metrics["trace.overhead_pct"] = {"value": 100.0 * (rate(plain) / rate(traced) - 1.0),
                                         "unit": "pct"}
        result = {"correct": all(r["correct"] for r in ran),
                  "attempted": sum(r["attempted"] for r in ran),
                  "failed": sum(r["failed"] for r in ran),
                  "metrics": metrics}
    print(log)
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
