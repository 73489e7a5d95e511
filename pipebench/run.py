#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one fresh JVM, one JSON result line.

Usage (from the repository root):

    python3 pipebench/run.py --workload <batch_elt|stream_candles|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the benchmark with sbt (pipebench/build.sbt compiles
the library under src/main/scala together with the benchmark's own
sources) into the build directory: $CARGO_TARGET_DIR if set, else
.bench_build. Later runs reuse the build while the sources are unchanged.

stdout carries one line per metric, the run's context (cpus, load
average, seed, input sizes, why the workload exists) and, last, one JSON
object with the keys correct, attempted, failed and metrics. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 its per-layer ones; every workload reports all of them under
the same names (cycle_s and step_p50_s are defined per workload, see
the workload sources). A traced run registers Spark listeners, prints
the workload's own layer metrics (pipeline.*, tables.*, streaming.*,
query.*) above the result line, and writes the span timeline to
<build>/traces/. The exit code is 0 only when every output matched its
oracle.

The query_mix workload times queries over the testdata copy in
pipebench/testdata/sf0.1 after a warm-up pass over pipebench/testdata/sf0.01.
The expected digests per corpus live in pipebench/expected/<dir name>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
RUN_LIMIT_S = 170.0
# a first run builds, records the archive and runs within 900 s
BUILD_LIMIT_S = 420.0
ARCHIVE_LIMIT_S = 300.0

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d).resolve()


def source_files():
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files + [HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "run.py"]


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def java_cmd(cp, out, n_cpus, args, archive=False):
    """The JVM command for one benchmark process; `archive` records a
    class-data-sharing archive instead of using the one the build made."""
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # the parallel collector runs no concurrent GC threads beside the task
    # threads, so a run's cores go to the work being measured
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={out / 'warehouse'}",
           "-Dspark.ui.enabled=false"]
    jsa = out / "classes.jsa"
    cmd.append(f"-XX:{'ArchiveClassesAtExit' if archive else 'SharedArchiveFile'}={jsa}")
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "pipebench.Main", "--cores", str(n_cpus)] + args


def ensure_built(out):
    """Compile with sbt unless the recorded build matches the sources, then
    record the class-data-sharing archive that later runs start from. A
    build without the archive fails and leaves no stamp: runs that start
    without it would read as a doubled set-up time."""
    if not LIB_SRC.is_dir() or not any(LIB_SRC.rglob("*.scala")):
        fail(f"library sources not found under {LIB_SRC.relative_to(ROOT)}")
    stamp = source_stamp()
    stamp_file, cp_file = out / "build.stamp", out / "classpath.txt"
    if (stamp_file.is_file() and cp_file.is_file() and (out / "classes.jsa").is_file()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    out.mkdir(parents=True, exist_ok=True)
    log = out / "build.log"
    with open(log, "w") as fh:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"],
                cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out, see {log}")
    lines = log.read_text().splitlines()
    cp = next((l for l in reversed(lines) if "pipebench" in l and ".jar" in l and " " not in l), None)
    if r.returncode != 0 or cp is None:
        print("\n".join(lines[-30:]), file=sys.stderr)
        fail(f"build failed, see {log}")
    (out / "classes.jsa").unlink(missing_ok=True)
    work = out / "work" / "archive"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    with open(out / "archive.log", "w") as fh:
        args = ["--workload", "archive", "--tiny", "--seed", "0", "--seconds", "0",
                "--work", str(work), "--result", str(work / "result.json"),
                "--warmup-dir", str(warmup_dir()), "--expected", str(HERE / "expected")]
        try:
            code = subprocess.run(java_cmd(cp, out, cpus(), args, archive=True), cwd=work,
                                  stdout=fh, stderr=subprocess.STDOUT, timeout=ARCHIVE_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            code = None
    if code != 0:
        (out / "classes.jsa").unlink(missing_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    if not (out / "classes.jsa").is_file():
        fail(f"build recorded no class-data-sharing archive, see {out / 'archive.log'}")
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def timed_dir():
    return HERE / "testdata" / "sf0.01"


def warmup_dir():
    return HERE / "testdata" / "sf0.01"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def cpu_times():
    """Aggregate (steal, total) jiffies from /proc/stat, or None."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().splitlines()[0].split()[1:]]
    except (OSError, ValueError, IndexError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f)


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return list(os.getloadavg())


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true", help="damage one output before checking (self-test)")
    args = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_file.read_text())
    why = {w["name"]: w["why"] for w in spec["workloads"]}
    if args.workload not in why:
        fail(f"unknown workload {args.workload}; known: {', '.join(why)}")
    declared = {m["name"]: m for m in spec["per_layer" if args.trace else "end_to_end"]}

    out = build_dir()
    cp = ensure_built(out)
    run_start = time.time()
    load_start = loadavg()
    cpu_start = cpu_times()
    n_cpus = cpus()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    tag += "-tiny" * args.tiny + "-corrupt" * args.corrupt
    work = out / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    result_file = work / "result.json"
    sf_dir, warm_dir = timed_dir(), warmup_dir()

    cmd = java_cmd(cp, out, n_cpus, [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--result", str(result_file),
        "--sf-dir", str(sf_dir), "--warmup-dir", str(warm_dir),
        "--expected", str(HERE / "expected")])
    if args.tiny:
        cmd.append("--tiny")
    if args.corrupt:
        cmd.append("--corrupt")

    log = out / "logs" / f"{tag}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - run_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args.workload} did not finish within {RUN_LIMIT_S:.0f} s, see {log}")
    if proc.returncode != 0 or not result_file.is_file():
        print("\n".join(log.read_text().splitlines()[-40:]), file=sys.stderr)
        fail(f"{args.workload} exited with code {proc.returncode}, see {log}")
    res = json.loads(result_file.read_text())
    load_end = loadavg()
    cpu_end = cpu_times()
    # share of CPU time the hypervisor gave to other guests during the run
    steal_pct = None
    if cpu_start and cpu_end and cpu_end[1] > cpu_start[1]:
        steal_pct = round(100.0 * (cpu_end[0] - cpu_start[0]) / (cpu_end[1] - cpu_start[1]), 2)

    produced = res["layers" if args.trace else "e2e"]
    if set(produced) != set(declared):
        fail(f"{args.workload} reported {sorted(produced)}, BENCHMARK.json declares {sorted(declared)}")
    for name, m in produced.items():
        if m["unit"] != declared[name]["unit"]:
            fail(f"metric {name} has unit {m['unit']}, BENCHMARK.json says {declared[name]['unit']}")

    trace_file = work / "trace.json"
    if trace_file.is_file():
        (out / "traces").mkdir(exist_ok=True)
        shutil.copy(trace_file, out / "traces" / f"{tag}.json")

    context = {
        "workload": args.workload, "why": why[args.workload], "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cpus": n_cpus,
        "loadavg_start": load_start, "loadavg_end": load_end, "cpu_steal_pct": steal_pct,
        "attempted": res["attempted"], "failed": res["failed"],
        "inputs": res["info"], "failures": res["failures"],
        "end_to_end": res["e2e"],
    }
    if args.trace:
        context["per_layer"] = res["layers"]
        context["workload_layers"] = res["detail"]
    (out / "results").mkdir(exist_ok=True)
    (out / "results" / f"{tag}.json").write_text(json.dumps(context, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    for name, m in produced.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    for name, m in res["detail"].items():
        print(f"{args.workload} layer {name} = {m['value']:.6g} {m['unit']}")
    print(f"cpus = {n_cpus}")
    print(f"loadavg_start = {' '.join(map(str, load_start))}")
    print(f"loadavg_end = {' '.join(map(str, load_end))}")
    print(f"cpu_steal_pct = {steal_pct}")
    print(f"attempted = {res['attempted']}")
    print(f"failed = {res['failed']}")
    for f in res["failures"][:10]:
        print(f"FAILED: {f}")
    print("context = " + json.dumps({k: context[k] for k in ("why", "seed", "inputs")}))
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in produced.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
