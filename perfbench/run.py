#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload orc_io --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the engine. The first run builds the
engine and the benchmark's JVM side (`perfbench/jvm`, sbt, offline)
and writes the orc_io inputs; both are cached under `.perfbench/`. Each
run then starts one JVM that sets up, warms up and runs the workload as
a single closed-loop client for a fixed number of passes sized to last
about `--seconds` on a 4-core host, checking every op's output.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric (`--trace 0`) or every per-layer metric
(`--trace 1`). The full record of the run (metrics, tail percentile,
host steal, workload rates) is appended to `.perfbench/runs.jsonl`,
which `perfbench/ab.py` compares across commits.
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
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import core  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
STATE = Path(".perfbench")
RUN_LIMIT_S = 170        # a run must end within 180 s
BUILD_LIMIT_S = 880      # the first run, which builds, within 900 s
ORC_COPIES = 64          # orc_io blowup: 64 x lineitem, 38.4M rows
LADDER_COPIES = 2        # codec ladder: 2 x lineitem per codec
# Seconds one timed pass takes on a 4-core host. A run times a fixed
# number of whole passes, sized from these so that it lasts about
# --seconds there, and at least two so every op type has two samples:
# every run of a workload then does the same work.
PASS_SECONDS = {"orc_io": 4.3, "core_queries": 3.8, "llm_operators": 11.0}
# ParallelGC: under G1 the peak RSS of identical core_queries runs read
# up to 25% apart; under ParallelGC within 3%.
JVM_FLAGS = [
    "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseParallelGC",
    "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sf_dir():
    d = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))
    if not (d / "lineitem.parquet").exists():
        fail(f"fixture tables not found in {d} (set SPARK_GRAFT_SF_DIR)")
    return d.resolve()


def source_hash():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    files = [Path("build.sbt"), *sorted(Path("project").glob("*.sbt")),
             *sorted(Path("project").glob("*.properties")),
             *sorted(Path("src/main").rglob("*")),
             *sorted((BENCH_DIR / "jvm").glob("*.sbt")),
             *sorted((BENCH_DIR / "jvm/project").glob("*.properties")),
             *sorted((BENCH_DIR / "jvm/src").rglob("*"))]
    h = hashlib.sha256()
    for f in files:
        if f.is_file():
            h.update(str(f).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built():
    """Compile engine + jvm/ once per source state; return the classpath
    and whether this call built it."""
    if not Path("build.sbt").exists() or not Path("src/main/scala").is_dir():
        fail("run from the root of an engine checkout (build.sbt, src/main/scala)")
    if not (BENCH_DIR / "jvm" / "build.sbt").exists():
        fail("perfbench/jvm is missing")
    stamp = STATE / "build" / f"{source_hash()}.classpath"
    if stamp.exists():
        return stamp.read_text().strip(), False
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    t0 = time.time()
    p = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH_DIR / "jvm", env=sbt_env(), capture_output=True, text=True,
        timeout=BUILD_LIMIT_S - 60)
    cp = [ln for ln in p.stdout.splitlines() if ln.endswith(".jar") and ":" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(cp[-1])
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp[-1], True


def java(classpath, args, work, timeout):
    """Run the JVM side in its own process group; kill the group on
    timeout. Returns the epoch time it was launched."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp.resolve()}",
           f"-Dspark.sql.warehouse.dir={(work / 'warehouse').resolve()}",
           "-cp", classpath, "perfbench.Main", *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp.resolve()),
               GRAFT_STAGING_ROOT=str((STATE / "staging").resolve()))
    log = open(work / "jvm.log", "w")
    launched = time.time()
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                         start_new_session=True)
    try:
        code = p.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = None
    finally:
        log.close()
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        fail("JVM timed out" if code is None else f"JVM exited {code}")
    return launched


def ensure_orc_inputs(classpath, sf, cpus, deadline):
    """The orc_io blowup, cached across runs by copy count."""
    dest = STATE / "data" / f"lineitem_x{ORC_COPIES}"
    manifest = dest.with_name(dest.name + ".json")
    if not manifest.exists():
        work = STATE / "gen"
        shutil.rmtree(work, ignore_errors=True)
        java(classpath, ["gen", str(sf), str(ORC_COPIES), str(dest.resolve()),
                         str(manifest.resolve()), str(cpus)], work, deadline - time.time())
        shutil.rmtree(work, ignore_errors=True)
    return dest, json.loads(manifest.read_text())


def ensure_staged(classpath, plan, deadline):
    """Run the workload's warm-up pass once per checkout, so the indexes
    the engine stages under GRAFT_STAGING_ROOT exist before any timed
    run: staging is input generation, cached across runs."""
    marker = STATE / "staging" / f"{plan['workload']}.done"
    if marker.exists():
        return
    work = STATE / "stage"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    stage = dict(plan, trace=False, passes=[], work_dir=str(work.resolve()))
    (work / "plan.json").write_text(json.dumps(stage))
    java(classpath, ["run", str((work / "plan.json").resolve()),
                     str((work / "records.jsonl").resolve())], work, deadline - time.time())
    shutil.rmtree(work, ignore_errors=True)
    marker.parent.mkdir(parents=True, exist_ok=True)
    marker.touch()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=core.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_start = time.time()
    sf = sf_dir()
    classpath, built = ensure_built()
    deadline = t_start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)
    cpus = min(os.cpu_count() or 1, 4)

    plan = {"workload": a.workload, "sf_dir": str(sf), "cpus": cpus,
            "trace": bool(a.trace),
            "max_seconds": a.seconds * 4,
            "tables": [] if a.workload == "orc_io" else core.ALL_TABLES}
    copies = copy_k = 0
    if a.workload == "orc_io":
        dest, manifest = ensure_orc_inputs(classpath, sf, cpus, deadline)
        copies, copy_k = manifest["copies"], manifest["copy_k"]
        plan.update(data_dir=str(dest.resolve()), copy_k=copy_k,
                    ladder_dir=str((STATE / "data" / "ladder").resolve()),
                    ladder_copies=LADDER_COPIES, ladder_reps=5)
    else:
        fps = json.loads((BENCH_DIR / "fingerprints.json").read_text())
        stream = core.STREAM_ENTRIES if a.trace and a.workload == core.STREAM_WORKLOAD else []
        plan["stream"] = [{"kind": "entry", "name": n} for n in stream]
        plan["fingerprints"] = {n: fps[n] for n in core.op_types(a.workload) + stream
                                if n in fps}
    passes = max(2, round(a.seconds / PASS_SECONDS[a.workload]))
    plan.update(core.plan_ops(a.workload, a.seed, passes, copies, copy_k))

    if a.workload != "orc_io":
        ensure_staged(classpath, plan, deadline)
    work = STATE / "run"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    plan["work_dir"] = str(work.resolve())
    (work / "plan.json").write_text(json.dumps(plan))
    records_path = work / "records.jsonl"
    launched = java(classpath, ["run", str((work / "plan.json").resolve()),
                                str(records_path.resolve())], work, deadline - time.time())
    records = [json.loads(ln) for ln in records_path.read_text().splitlines() if ln]

    e2e, facts = core.end_to_end(records, launched)
    metrics = core.per_layer(records, a.workload) if a.trace else e2e
    ops = core.timed_ops(records)
    # ops outside the timed passes (warm-up, stream section) are checked too
    untimed_failed = [o for o in records
                      if o["type"] == "op" and o["pass"] < 0 and not o["ok"]]
    failed = [o for o in ops if not o["ok"]]
    for o in (untimed_failed + failed)[:5]:
        print(f"perfbench: op {o['name']} failed: {o['error']}", file=sys.stderr)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "metrics": metrics, "end_to_end": e2e, "facts": facts}
    with open(STATE / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps({"workload": a.workload, "seed": a.seed, **facts}), file=sys.stderr)
    shutil.rmtree(work / "tmp", ignore_errors=True)
    print(json.dumps({
        "correct": not failed and not untimed_failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": core.unit_of(k)} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
