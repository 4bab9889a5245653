#!/usr/bin/env python3
"""Benchmark of the graft engine: the reference's delivery path and a sample
of the query rows.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
build); later runs reuse the build until a source file changes. Each run
gets its own scratch directory (java.io.tmpdir, Spark local dir, inputs,
checkpoints), deleted when the run ends, so no run reuses a store an earlier
run built. The last line of stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1). Everything else a run measured, including the spans of
a traced run, goes to perfbench/out/<workload>-s<seed>-t<trace>/. The exit
code is 0 only when every output was correct.
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
BUILD = os.path.join(HERE, ".build")
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of the path, size and mtime of every build input."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def classpath():
    """Build if any input changed since the last build; return the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read() == stamp:
                return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=log, text=True, timeout=840)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(cp, args, work, out):
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def rounded(v):
    """Eight significant digits: every metric fits the summary line."""
    return float(f"{v:.8g}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}: expected build.sbt and src/main/scala in {ROOT}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")

    cp = classpath()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    out = os.path.join(HERE, "out", tag)
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        t0 = time.time()
        rc = run_jvm(cp, args, work, out)
        jvm_s = time.time() - t0
        result_file = os.path.join(out, "result.json")
        if not os.path.exists(result_file):
            fail(f"the run wrote no result (exit {rc}), see {out}/jvm.log", 1)
        with open(result_file) as f:
            res = json.load(f)
        res["jvm_s"] = jvm_s
        if args.workload == "rows":
            sys.path.insert(0, HERE)
            import oracle
            t0 = time.time()
            verdicts = oracle.check(res["data_dir"], res["results_dir"], list(res["rows"]))
            res["oracle"] = verdicts
            res["oracle_s"] = time.time() - t0
            already = {n for n, r in res["rows"].items() if "error" in r}
            res["failed"] += sum(1 for n, v in verdicts.items() if v and n not in already)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = rc == 0 and res["failed"] == 0 and all(res["checks"].values())
    names = spec["end_to_end"] if args.trace == 0 else spec["per_layer"]
    source = res["end_to_end"] if args.trace == 0 else res["layers"]
    missing = [m["name"] for m in names if source.get(m["name"]) is None]
    if missing:
        fail(f"the run did not measure {missing}", 1)
    metrics = {m["name"]: {"value": rounded(source[m["name"]]), "unit": m["unit"]} for m in names}

    if args.trace == 1:
        # tracing overhead: this run's end-to-end numbers against the last
        # untraced run of the same workload and seed, when there is one
        plain = os.path.join(HERE, "out", f"{args.workload}-s{args.seed}-t0", "summary.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["end_to_end"]
            res["trace_overhead"] = {k: v - base[k] for k, v in res["end_to_end"].items() if k in base}
    res["correct"] = correct
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}, separators=(",", ":")))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
