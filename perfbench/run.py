#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: serve_live, batch_mix (see BENCHMARK.json and
perfbench/NOTES.md). The first run in a checkout builds the program and the
benchmark as jars with sbt (offline), then runs a short `batch_mix` at
sf0.01 once to record a class-data-sharing archive of the classes it loads.
The classpath and archive are cached under `.bench_build/`, keyed by a hash
of the sources. Each run then starts one JVM that maps the archive (it
halves the cold set-up; see perfbench/NOTES.md), sets up, measures for
`--seconds` and writes its figures; inputs are generated from `--seed`.
Scratch files live under `.bench_work/` and are removed at the end.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: with `--trace 0` the
end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics (0 for a layer the workload does not exercise).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # importing fixtures/oracle leaves no __pycache__

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)  # fixtures.py and oracle.py, imported when needed
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JSA = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ["serve_live", "batch_mix"]
DEADLINE_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        die("no program sources next to the benchmark (build.sbt, src/main)")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if all(map(os.path.isfile, [cp_file, stamp_file, JSA])):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export perfbench/Runtime/fullClasspathAsJars"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if ".jar" in l and "classes" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(l[:300] for l in lines[-40:]) + "\n")
        die(f"build failed (exit {r.returncode}); log in {log}")
    cp = cps[-1]
    record_archive(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def record_archive(cp):
    """Record the classes a short batch_mix run loads (Spark SQL, session
    start, codegen, the program's queries and Acid calls) as a class-data-sharing archive."""
    if os.path.exists(JSA):
        os.remove(JSA)
    work = os.path.join(WORK, "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        import fixtures
        inputs = os.path.join(work, "fixtures")
        os.makedirs(inputs)
        fixtures.generate(inputs, 0, sf=0.01)
        code, _ = jvm(cp, [f"-XX:ArchiveClassesAtExit={JSA}"],
                      ["--workload", "batch_mix", "--seed", "0", "--seconds", "1"],
                      work, inputs, time.monotonic() + 300)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(JSA):
        die(f"recording the class-data-sharing archive failed ({code})")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def jvm(cp, jvm_opts, main_args, work, inputs, deadline):
    """Run perfbench.Main in `work`; returns (exit code or "timeout", log lines)."""
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", *jvm_opts, *ADD_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main", *main_args,
            "--work", work, "--out", os.path.join(work, "result.json"), "--inputs", inputs])
    # the program's own ephemeral checkpoints (graft.Tmp.ckpt) would go to
    # /dev/shm; keep them, like every other file of the run, in the checkout
    env = dict(os.environ, SPARK_GRAFT_CKPT_ROOT=os.path.join(work, "ckpt"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    with open(log) as f:
        return code, f.readlines()


def cpu_jiffies():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(cp, args, work, inputs, deadline):
    """Run the workload and return its result file's contents."""
    code, lines = jvm(cp, [f"-XX:SharedArchiveFile={JSA}"],
                      ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace)],
                      work, inputs, deadline)
    out = os.path.join(work, "result.json")
    if code != 0 or not os.path.isfile(out):
        sys.stderr.write("".join(lines[-60:]))
        die(f"benchmark JVM failed ({code})")
    sys.stderr.write("".join(l for l in lines if l.startswith("[perfbench]")))
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    spec = load_spec()
    cp = classpath()
    # a first run that had to build gets the build's time on top
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 20)

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        inputs = ""
        if args.workload == "batch_mix":
            import fixtures
            inputs = os.path.join(work, "fixtures")
            os.makedirs(inputs)
            t = time.monotonic()
            fixtures.generate(inputs, args.seed)
            print(f"[perfbench] fixtures {time.monotonic() - t:.2f} s", file=sys.stderr)
        steal0, total0 = cpu_jiffies()
        res = run_jvm(cp, args, work, inputs, deadline)
        steal1, total1 = cpu_jiffies()
        # share of the run's CPU time the hypervisor gave to other guests:
        # runs with a high share were slowed by the host, not the program
        steal_pct = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        res["per_layer"]["box.steal_pct"] = steal_pct
        attempted, failed = res["attempted"], res["failed"]
        if args.workload == "batch_mix":
            import oracle
            t = time.monotonic()
            verdict = oracle.check(inputs, os.path.join(work, "oracle"))
            print(f"[perfbench] oracle compare {time.monotonic() - t:.2f} s", file=sys.stderr)
            for key, errs in verdict.items():
                if errs:
                    print(f"perfbench: oracle mismatch {key}: {errs[:3]}", file=sys.stderr)
            attempted += len(verdict)
            failed += sum(1 for e in verdict.values() if e)
        if args.trace:
            spans = os.path.join(work, "spans.json")
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(WORK, f"spans-{args.workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["per_layer"] if args.trace else res["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = got.get(m["name"])
        if v is None and not args.trace:
            missing.append(m["name"])
        metrics[m["name"]] = {"value": 0.0 if v is None else v, "unit": m["unit"]}
    if missing:
        die(f"end-to-end metrics not measured: {missing}")
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "fail_frac": failed / max(1, attempted), "setup_reps_s": res["setup_reps_s"],
            "steal_pct": steal_pct,
            "end_to_end": res["end_to_end"], "box": res["box"]}
    print("perfbench info: " + json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
