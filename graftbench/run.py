#!/usr/bin/env python3
"""Benchmark for the graft Spark engine.

    python3 graftbench/run.py --workload NAME --seed N [--seconds 10] [--trace 0|1]

Run from the repository root. The first run in a checkout builds the
program and this harness from source with sbt (offline) and caches the
DuckDB oracle answers over the committed sf0.01 tables (`graftbench/data/`),
both under `graftbench/.work/`; later runs reuse them until a source file
changes.

One run is one JVM on `local[nproc]`: set-up (session, inputs, an untimed
pass that checks every operation's output and warms the JIT), then a timed
pass of a fixed list of operations. With `--trace 1` the JVM then repeats
the timed pass with listeners attached, and once more without them, and
the per-layer metrics are reported instead of the end-to-end ones; the
tracing overhead is the traced pass against the mean of the two untraced
ones. A run does a fixed amount of work: `--seconds` sets how many units
of each workload's base work (`workloads.py`) the timed pass does, one
per 10 s, never a deadline.

The JVM runs in a private mount namespace whose /tmp is
`graftbench/.work/tmp`, so the program's `/tmp/graft_*` staging trees stay
inside the checkout and are emptied before every run.

The last line of standard output is the JSON result; the lines before it
print every metric by name and unit, the fixture fingerprint and, for
traced runs, each operation's plan fingerprint.
"""
import argparse
import fcntl
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ORACLE_SQL = os.path.join(WORK, "oracle_sql.json")
sys.path.insert(0, HERE)

if not all(os.path.exists(os.path.join(ROOT, p)) for p in
           ("build.sbt", "src/main/scala/graft", "tools/diffcheck.py")):
    print("graftbench: run from the root of a graft checkout: its build.sbt, "
          "src/ and tools/ are missing", file=sys.stderr)
    sys.exit(2)

import layers  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 160
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def die(msg):
    log(msg)
    sys.exit(2)


def sources_digest():
    """Digest of every file the build reads, to tell when to rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile the program and the harness; returns the JVM classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["digest"] == digest:
            return built["classpath"]
    log("building (sbt, offline)")
    t = time.time()
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "w") as logf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export graftbench/Runtime/fullClasspathAsJars"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=logf,
            text=True, timeout=600)
        logf.write(proc.stdout)
    lines = [x for x in proc.stdout.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        die(f"build failed (see {os.path.relpath(WORK, ROOT)}/build.log)")
    classpath = lines[-1].strip()
    names = sorted({r for w in workloads.WORKLOADS.values() for r in w.get("rows", [])})
    tmpdir = os.path.join(WORK, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    subprocess.run(in_private_tmp(jvm_cmd(classpath, "graftbench.Oracles",
                                          ORACLE_SQL, ",".join(names)), tmpdir),
                   check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   timeout=120)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t:.0f} s")
    return classpath


def write_props(props, name):
    path = os.path.join(WORK, name)
    with open(path, "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")
    return path


def spark_env():
    n = str(len(os.sched_getaffinity(0)))  # what `nproc` prints
    env = dict(os.environ, SPARK_GRAFT_CPUS=n, SPARK_GRAFT_SHUFFLE=n,
               SPARK_LOCAL_DIRS="/tmp/spark-local")
    env.pop("SPARK_GRAFT_BLOOM", None)
    return env


def jvm_cmd(classpath, main, *args):
    heap = heap_size()
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap and a fixed 1 GiB young generation. With a smaller
    # initial heap the old generation (cached inputs) sat near G1's 45%
    # occupancy threshold, so in some runs every large sort or shuffle
    # buffer started a concurrent collection: ten times the collections and
    # a timed pass ~20% slower than in identical runs that stayed below it
    cmd += [f"-Xms{heap}", "-Xmn1g", f"-Xmx{heap}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Djava.io.tmpdir=/tmp",
            "-cp", classpath, main, *args]
    return cmd


def heap_size():
    """The tier-1 test heap: half the machine's memory, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(x.split()[1]) for x in f if x.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(max(g, 2), 8)}g"


def in_private_tmp(cmd, tmpdir):
    """`cmd` in a mount namespace whose /tmp is `tmpdir`."""
    inner = 'mount --bind "$0" /tmp && exec "$@"'
    for prefix in (["unshare", "--mount", "--propagation", "private"],
                   ["unshare", "--user", "--map-root-user", "--mount"]):
        probe = subprocess.run(prefix + ["sh", "-c", inner, tmpdir, "true"],
                               stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        if probe.returncode == 0:
            return prefix + ["sh", "-c", inner, tmpdir] + cmd
    die("cannot create a private /tmp (unshare --mount failed); "
        "the program writes fixed /tmp/graft_* paths")


def prepare_oracles(fixture_fps):
    """DuckDB answers for every catalog row of every workload, cached per
    (fixture fingerprint, oracle SQL)."""
    with open(ORACLE_SQL) as f:
        sqls = json.load(f)
    for wname, w in workloads.WORKLOADS.items():
        if w["kind"] != "catalog":
            continue
        cache = oracle.Cache(os.path.join(WORK, "oracle"), fixture_fps[w["sf"]]["sha256"])
        missing = [r for r in w["rows"] if r in sqls and not cache.has(r, sqls[r])]
        if missing:
            log(f"oracle: {len(missing)} answers for {wname}")
            cache.fill(oracle.fixture_dir(w["sf"]), {r: sqls[r] for r in missing})
    return sqls


def run_jvm(classpath, props, log_path, tmpdir):
    props_path = write_props(props, "run.properties")
    cmd = in_private_tmp(jvm_cmd(classpath, "graftbench.Harness", props_path), tmpdir)
    env = spark_env()
    launched = time.time()
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, env=env, stdout=logf, stderr=logf)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {JVM_TIMEOUT_S} s (log: {log_path})")
    if rc != 0:
        die(f"JVM exited {rc} (log: {log_path})")
    with open(props["raw"]) as f:
        raw = json.load(f)
    raw["launched"] = launched
    return raw


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)  # runs in one checkout share .work
    w = workloads.WORKLOADS[a.workload]
    classpath = build()
    fps = {sf: oracle.fingerprint(oracle.fixture_dir(sf)) for sf in workloads.FIXTURE_SFS}
    sqls = prepare_oracles(fps)

    tmpdir = os.path.join(WORK, "tmp")
    out = os.path.join(WORK, "out")
    for d in (tmpdir, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    rng = random.Random(a.seed)
    props = {"kind": w["kind"], "seed": a.seed, "trace": a.trace,
             "raw": os.path.join(WORK, f"raw-{tag}.json")}
    scale = max(1, round(a.seconds / 10))  # units of the workload's base work
    if w["kind"] == "ref":
        props.update({f"ref.{k}": v for k, v in w["sizes"].items()})
        props.update(iters=w["iters"] * scale, warmups=w["warmups"], ops=",".join(w["ops"]))
        fingerprint = {"ref_seed": a.seed, "ref_sizes": w["sizes"]}
    else:
        order = []
        for _ in range(scale if a.trace else scale * w["passes"]):
            rows = list(w["rows"])
            rng.shuffle(rows)
            order += rows
        props.update(dir=oracle.fixture_dir(w["sf"]), out=out, ops=",".join(order))
        fingerprint = {f"sf{w['sf']}": fps[w["sf"]]}
    raw = run_jvm(classpath, props, os.path.join(WORK, "logs", f"{tag}.log"), tmpdir)

    failed_ops = layers.check(w, raw, out, sqls, oracle.Cache(
        os.path.join(WORK, "oracle"), fps[w["sf"]]["sha256"]) if w["kind"] == "catalog" else None)
    if a.trace:
        values, report = layers.per_layer(w, raw)
    else:
        values, report = layers.end_to_end(w, raw)
    units = dict(workloads.UNITS)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "fingerprint": fingerprint, "metrics": values, "report": report,
              "failed_ops": failed_ops}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    print(f"# workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"fingerprint {json.dumps(fingerprint, sort_keys=True)}")
    for k, v in values.items():
        print(f"# {k} = {v:.4f} {units[k]}")
    for line in report:
        print("# " + line)
    for name, why in sorted(failed_ops.items()):
        print(f"# FAILED {name}: {why}")
    attempted = len(layers.timed_ops(raw))
    result = {
        "correct": not failed_ops,
        "attempted": attempted,
        "failed": layers.failed_count(raw, failed_ops),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
