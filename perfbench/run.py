#!/usr/bin/env python3
"""Benchmark of the hisscubespark engine: one workload, one run.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: cube_lifecycle, analytics.

The first run in a checkout compiles the harness in perfbench/src (its
own sbt build, perfbench/build.sbt, which depends on the repository's
root build, so the engine is compiled by its own build definition);
later runs reuse the build while the sources are unchanged. The run
starts one JVM with the engine's JVM options and a fixed heap on
local[N], N = the CPUs this process may use, and passes its output
through. The last line of standard output is one JSON object: correct,
attempted, failed and metrics (the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1).
Lines starting with '#' before it are the readable row and provenance.
A traced run leaves its timing spans (id, parent, duration, self time)
in perfbench/.work/spans-<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
HEAP = "3g"
WORKLOADS = ("cube_lifecycle", "analytics")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 600

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    files = []
    for build_dir in (ROOT, HERE):
        for d in (build_dir, os.path.join(build_dir, "project")):
            if os.path.isdir(d):
                files += [os.path.join(d, n) for n in os.listdir(d)
                          if n.endswith((".sbt", ".properties"))]
        for d, _, names in os.walk(os.path.join(build_dir, "src", "main")):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile once per source state; returns the runtime classpath and
    the engine's JVM options."""
    want = stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    outputs = [os.path.join(BUILD, n) for n in ("classpath", "jvm_options")]
    fresh = False
    if os.path.isfile(stamp_file) and all(os.path.isfile(f) for f in outputs):
        with open(stamp_file) as fh:
            fresh = fh.read().strip() == want
    if not fresh:
        os.makedirs(BUILD, exist_ok=True)
        for f in outputs:
            if os.path.exists(f):
                os.remove(f)
        log = os.path.join(BUILD, "sbt.log")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "launch"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0 or not all(os.path.isfile(f) for f in outputs):
            with open(log) as fh:
                sys.stderr.write("".join(fh.readlines()[-40:]))
            fail(f"build failed (sbt exit {rc}); log in {log}")
        with open(stamp_file, "w") as fh:
            fh.write(want)
    with open(outputs[0]) as fh:
        classpath = fh.read().strip()
    with open(outputs[1]) as fh:
        options = [l for l in fh.read().splitlines() if l]
    return classpath, options


def declared(trace):
    """The metrics BENCHMARK.json declares for this kind of run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


def normalize(result, trace):
    """Report exactly the declared metrics, in declared order. A layer a
    workload does not exercise reads 0; a missing end-to-end metric or a
    unit that disagrees with the declaration is an error."""
    got = result["metrics"]
    out = {}
    for m in declared(trace):
        v = got.get(m["name"])
        if v is None:
            if not trace:
                fail(f"end-to-end metric {m['name']} was not measured")
            v = {"value": 0.0, "unit": m["unit"]}
        if v["unit"] != m["unit"]:
            fail(f"{m['name']}: unit {v['unit']}, declared {m['unit']}")
        out[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    extra = sorted(set(got) - set(out))
    if extra:
        print("# undeclared metrics dropped: " + " ".join(extra))
    result["metrics"] = out
    return result


def git_commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return "unknown (not a git checkout)"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--mode", choices=("run", "fingerprint"), default="run",
                    help="fingerprint: rewrite perfbench/fingerprints.tsv")
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need} missing under {ROOT})")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    classpath, engine_options = build()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    n = cpus()
    # the engine's JVM options with the heap replaced by a fixed one. It is
    # pre-touched, so the first touch of heap pages is paid at JVM start,
    # not inside the timed passes. No perf-data file, so the run writes
    # nothing outside the checkout.
    cmd = ["java"] + [o for o in engine_options if not o.startswith(("-Xmx", "-Xms"))]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--base", HERE, "--work", run_dir]
    if args.mode == "fingerprint":
        cmd += ["--mode", "fingerprint"]
    env = dict(os.environ, PERFBENCH_CPUS=str(n), PERFBENCH_GIT_COMMIT=git_commit(),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    env.pop("SPARK_GRAFT_CPUS", None)
    err_path = os.path.join(WORK, f"stderr-{os.getpid()}.log")
    t0 = time.time()
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S if args.mode == "run" else 1800)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S} s; stderr in {err_path}")
    spans = os.path.join(run_dir, "spans.jsonl")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or (args.mode == "run" and not lines[-1:][0].startswith("{")):
        with open(err_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run failed (exit {proc.returncode}); stderr in {err_path}")
    os.remove(err_path)
    for l in lines[:-1]:
        print(l)
    print(f"# wall_s {time.time() - t0:.1f} heap {HEAP} cpus {n}")
    if args.mode == "run":
        print(json.dumps(normalize(json.loads(lines[-1]), args.trace)))


if __name__ == "__main__":
    main()
