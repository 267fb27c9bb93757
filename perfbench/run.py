#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload ingest|curate \
        --seed N --seconds S --trace 0|1

Builds the harness (perfbench/build.sbt, which compiles the engine's own
sources with it) when the sources changed, runs the workload in one JVM, and
prints, as the last line of stdout, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics` (the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1). The
lines before it carry the harness's full record: confs, sample counts,
set-up breakdown, per-query figures and, for a traced run, the tracing
overhead and the trace-file path. Exits non-zero when an answer is wrong or
the run fails.

Every file the run writes stays inside the checkout: the build under
perfbench/target and .bench_build, the run's /tmp (derived stores, Spark
scratch, stream checkpoints) under .bench_run, which is bind-mounted over
/tmp in a private mount namespace when the platform allows it.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
RUN = os.path.join(ROOT, ".bench_run")
DATA = os.path.join(BENCH, "data", "bench_sf0.1")
WORKLOADS = ("ingest", "curate")
# Maintenance mode: prints the golden fingerprints of the checked queries.
TOOLS = ("golden",)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")
SBT_OPTS = " ".join(
    (["-Dsbt.override.build.repos=true",
      f"-Dsbt.repository.config={SBT_REPOS}"] if os.path.isfile(SBT_REPOS) else [])
    + ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPTS = ["-Xmx4g", "-XX:ReservedCodeCacheSize=1g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.configurationFile="
            + os.path.join(BENCH, "conf", "log4j2.properties")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the harness build reads."""
    h = hashlib.sha1()
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for d in dirs:
        for base, _, names in sorted(os.walk(d)):
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the harness with the engine when the sources changed;
    returns the runtime classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    tmp = os.path.join(BUILD, "tmp")
    reset_dir(tmp)
    proc = subprocess.run(
        in_private_tmp(tmp, ["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "compile", "export Runtime/fullClasspath"]),
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return lines[-1].strip()


def private_tmp_ok():
    try:
        return subprocess.run(
            ["unshare", "-m", "--propagation", "private", "true"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=20).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False


def reset_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def in_private_tmp(tmp, cmd):
    """`cmd` with `tmp` bind-mounted over /tmp, where the platform allows a
    private mount namespace; `cmd` unchanged otherwise."""
    if not private_tmp_ok():
        return cmd
    return ["unshare", "-m", "--propagation", "private", "sh", "-c",
            'mount --bind "$0" /tmp && exec "$@"', tmp] + cmd


def run_jvm(cp, args, tmp, trace_out):
    cmd = ["java"] + JVM_OPTS + [
        x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    data_name = os.path.basename(DATA)
    shared_tmp = not private_tmp_ok()
    if shared_tmp:
        # No private mount namespace: keep what the JVM itself creates in
        # the checkout; the engine's derived stores still go to
        # /tmp/graft_*/<data-set name> and are removed after the run.
        cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", DATA, "--golden", os.path.join(BENCH, "golden.json"),
            "--trace-out", trace_out]
    cmd = in_private_tmp(tmp, cmd)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if shared_tmp:
            for d in os.listdir("/tmp"):
                if d.startswith("graft_"):
                    shutil.rmtree(os.path.join("/tmp", d, data_name),
                                  ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + TOOLS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found; run from the root of a checkout")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found")
    if not os.path.isfile(os.path.join(DATA, "events.parquet")):
        fail(f"data set not found at {DATA}")
    spec = json.load(open(spec_path))

    t0 = time.time()
    cp = build()
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", flush=True)

    tmp = os.path.join(RUN, "tmp")
    reset_dir(tmp)
    trace_out = os.path.join(RUN, f"trace_{args.workload}_{args.seed}.json")
    try:
        code, out = run_jvm(cp, args, tmp, trace_out if args.trace else "")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if code != 0 or not lines:
        sys.stdout.write(out[-4000:])
        fail(f"harness exited with code {code}")
    rec = json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])
    if args.workload in TOOLS:
        print(json.dumps(rec, indent=1, sort_keys=True))
        return
    print("perfbench: record " + json.dumps(rec, sort_keys=True))
    if args.trace:
        print(f"perfbench: trace spans in {trace_out}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = rec["layers"] if args.trace else rec["e2e"]
    metrics = {}
    missing = []
    for m in wanted:
        got = source.get(m["name"])
        if got is None or got["value"] is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = bool(rec["correct"]) and not missing
    if missing:
        print(f"perfbench: metrics missing: {missing}", file=sys.stderr)
    for f in rec.get("failures", []):
        print(f"perfbench: FAIL {f}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
