#!/usr/bin/env python3
"""The repo benchmark: one workload per command, one JVM, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
harness with sbt into `.bench_build/perfbench`; later runs reuse that build
while the sources are unchanged. Each run generates its inputs, starts one
Spark JVM (`perfbench.Main`), times the workload's ops, checks their outputs
and prints one JSON line last on stdout. A run's full record (run context,
every op, the check verdicts) is kept under `.bench_build/perfbench/results`,
and a traced run's spans under `.bench_build/perfbench/traces`.

See NOTES.md for the workloads, the metrics and how to compare two commits.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402

DATA_SEED = 42          # the inputs; --seed only orders and parameterises ops
SCALE = 0.1             # scale factor of the inputs
HEAP = "4g"
RUN_LIMIT_S = 170       # a run must end within 180 s once built
# Program knobs that change what the ops do; a run with any of them set
# would not measure the program as shipped.
FORBIDDEN_ENV = ["SPARK_GRAFT_FIT_DIR", "SPARK_GRAFT_MAX_FILES_PER_TRIGGER",
                 "SPARK_GRAFT_SPREAD", "SPARK_GRAFT_BENCH_ONLY"]
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build compiles: program and harness sources
    and both sbt builds (their `build.sbt` and `project/` definitions)."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for b in (ROOT, HERE):
        # project/ holds the sbt version and plugins; its target/ and
        # project/ subdirectories are sbt's own output
        p = os.path.join(b, "project")
        if os.path.isdir(p):
            files += [os.path.join(p, n) for n in os.listdir(p)
                      if os.path.isfile(os.path.join(p, n))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def commit():
    """The checkout's git commit, when it is a git work tree."""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def build(digest):
    """Compile with sbt once per source digest; returns the runtime classpath.

    sbt compiles into the `target/` directories of the checkout, which any
    later build (this benchmark's, or the program's own `sbt compile`)
    overwrites. So every class directory on the classpath is copied into
    `classes-<digest>/`, and the cached classpath names only those copies and
    jars: a cache entry always runs the classes built from its digest.
    """
    cp_file = os.path.join(BUILD, f"classpath-{digest}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True, timeout=840)
        log.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines()
             if "perfbench" in ln and ln.count(os.pathsep) > 10
             and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}")
    frozen = os.path.join(BUILD, f"classes-{digest}")
    tmp = frozen + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    entries = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, os.path.join(tmp, str(i)))
            entry = os.path.join(frozen, str(i))
        entries.append(entry)
    shutil.rmtree(frozen, ignore_errors=True)
    os.rename(tmp, frozen)
    cp = os.pathsep.join(entries)
    with open(cp_file + ".tmp", "w") as f:
        f.write(cp)
    os.rename(cp_file + ".tmp", cp_file)
    return cp


def inputs(name, make):
    """A generated input directory under the build dir, made once per checkout.

    Inputs depend only on DATA_SEED and the scale, so runs share them; they
    are written to a temporary name and renamed, so an interrupted run never
    leaves a half-written input behind.
    """
    path = os.path.join(BUILD, "data", f"{name}-seed{DATA_SEED}")
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        make(tmp)
        os.rename(tmp, path)
    return path


def plan_for(workload, spec, seed, seconds, trace, work):
    """The JVM's plan for one run; makes the inputs it names if missing."""
    full = inputs(f"sf{SCALE}", lambda d: datagen.generate(d, SCALE, DATA_SEED))
    # the number of timed passes (daily runs for the cron) follows --seconds
    # through a fixed nominal op time, never the measured one, so both sides
    # of a comparison time the same ops
    repeats = max(1, math.floor(seconds / spec["nominal_s"] + 0.5))
    plan = {"workload": workload, "kind": spec["kind"], "seconds": seconds,
            "trace": bool(trace), "cpus": os.cpu_count(), "settle": spec["settle"],
            "work_dir": work, "spark_local_dir": os.path.join(work, "spark-local"),
            "out": os.path.join(work, "raw.json")}
    rng = random.Random(seed)
    if spec["kind"] == "cron":
        days = inputs(f"days{spec['days']}-sf{SCALE}",
                      lambda d: datagen.day_snapshots(full, d, spec["days"]))
        # the timed days are the last ones; the cold first run loads every
        # day before them in one go, so the timed days and the replay meet
        # the sink grown over the whole month
        timed_days = min(repeats, spec["days"] - 1 - spec["settle"])
        plan.update(snapshots=[os.path.join(days, f"day{d:02d}")
                               for d in range(1, spec["days"] + 1)],
                    as_of=[f"2024-01-{d:02d}" for d in range(1, spec["days"] + 1)],
                    bootstrap_wm=spec["bootstrap_wm"], timed_days=timed_days,
                    first_day=spec["days"] - 1 - spec["settle"] - timed_days,
                    rewind_days=rng.randint(*spec["rewind_days"]))
    else:
        ops = list(spec["ops"])
        rng.shuffle(ops)
        plan.update(data_dir=full, ops=ops, cold_op=spec["cold_op"], passes=repeats,
                    modules=WORKLOADS["modules"], expected=EXPECTED.get(workload, {}))
    return plan


def run_jvm(cp, plan, work, deadline):
    os.makedirs(plan["spark_local_dir"], exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    cmd = (["java", f"-Xmx{HEAP}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main", plan_path])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_LIMIT_S} s, see {work}/jvm.log")
        finally:
            # never leave the JVM (or anything it started) behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        fail(f"JVM exited {proc.returncode}, see {work}/jvm.log")
    with open(plan["out"]) as f:
        return json.load(f)


def main():
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: fail("terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS["workloads"]:
        fail(f"unknown workload {args.workload}")
    knobs = [k for k in FORBIDDEN_ENV if os.environ.get(k)]
    if knobs:
        fail(f"refusing to run with behaviour-changing knobs set: {', '.join(knobs)}")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail(f"no program to measure under {ROOT}")

    digest = source_digest()
    cp = build(digest)
    t_built = time.time()
    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = WORKLOADS["workloads"][args.workload]
    plan = plan_for(args.workload, spec, args.seed, args.seconds, args.trace, work)
    t_launch = time.time()
    raw = run_jvm(cp, plan, work, t_built + RUN_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)

    # set-up runs from the JVM launch to the first timed op, less the cold
    # op, which is reported on its own
    result = layers.end_to_end(raw, spec["kind"])
    first = min(o["start_ms"] for o in layers.timed_ops(raw["ops"]))
    cold = sum(o["wall_s"] for o in raw["ops"] if o["phase"] == "cold")
    result["metrics"]["setup_s"] = first / 1e3 - t_launch - cold
    context = dict(raw["context"], source_digest=digest, commit=commit(), heap=HEAP,
                   nproc=os.cpu_count(), seed=args.seed, workload=args.workload,
                   trace=args.trace, build_s=t_built - t_start)
    if args.trace:
        per_layer, spans, modules = layers.per_layer(raw, spec["kind"])
        result["layers"] = per_layer
        save(f"traces/{args.workload}-seed{args.seed}.json",
             {"context": context, "spans": spans, "modules": modules,
              "self_time": layers.self_time_by_kind(spans)})
        untraced = load(f"results/{args.workload}-seed{args.seed}-trace0.json")
        if untraced:
            overhead = result["metrics"]["wall_s"] - untraced["metrics"]["wall_s"]
            print(f"# tracing overhead: {overhead:+.3f} s of wall_s "
                  f"({result['metrics']['wall_s']:.3f} traced vs "
                  f"{untraced['metrics']['wall_s']:.3f} untraced)")
    record = dict(result, context=context, checks=raw["checks"], ops=raw["ops"])
    save(f"results/{args.workload}-seed{args.seed}-trace{args.trace}.json", record)
    print("# context: " + json.dumps(context, sort_keys=True))
    d = result["detail"]
    shown = dict(result["metrics"], failed_ops=d["failed_ops"])
    if spec["kind"] == "cron":
        shown.update(replay_s=d["replay_s"], sink_bytes_per_row=d["sink_bytes_per_row"])
    for name, value in shown.items():
        unit = {"live_heap_mb": "MB", "failed_ops": "ratio", "sink_bytes_per_row": "B/row"}.get(name, "s")
        note = f"  (p{d['tail_percentile']:.0f} of n={d['tail_n']})" if name == "op_tail_s" else ""
        print(f"# {name} = {value:.4f} {unit}{note}")
    print(f"# output checks: {sum(c['ok'] for c in raw['checks'])}/{len(raw['checks'])} passed")
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"# check failed: {c['name']}: {c.get('error') or c.get('detail') or c}")
    names = [m["name"] for m in BENCH["per_layer" if args.trace else "end_to_end"]]
    source = result["layers"] if args.trace else result["metrics"]
    units = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
    line = {"correct": result["failed"] == 0, "attempted": result["attempted"],
            "failed": result["failed"],
            "metrics": {n: {"value": source[n], "unit": units[n]} for n in names}}
    print(json.dumps(line))


def save(rel, obj):
    path = os.path.join(BUILD, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1)


def load(rel):
    path = os.path.join(BUILD, rel)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _read(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


WORKLOADS = _read("workloads.json")
EXPECTED = _read("expected.json")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

if __name__ == "__main__":
    main()
