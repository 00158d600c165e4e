#!/usr/bin/env python3
"""graft benchmark runner: build, generate inputs, run one workload, check, report.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 6 --trace 0

It compiles graft's main sources and the benchmark harness with the Scala
compiler shipped in the Spark distribution (no sbt, build.sbt untouched),
caches the classes under $CARGO_TARGET_DIR (default .bench_build) keyed by
a hash of the sources, writes the seeded inputs with perfbench/gen.py, runs
perfbench/src's harness on local[4], and prints one line per metric
followed by the result as a single JSON line. Everything it writes stays
under the build directory. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HEAP = "3g"
HARNESS_TIMEOUT_S = 165
WARM_SEED_OFFSET = 1_000_003

E2E = ["setup_s", "recall"]
PER_LAYER = ["spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms_max",
             "spark.cpu_run_ratio", "spark.shuffle_write_bytes",
             "jvm.gc_ms", "jvm.alloc_mb", "jvm.heap_peak_mb"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no scala-compiler jar under {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        die("graft sources (src/main/scala) not found; run from the repository root")
    res = sorted(p for p in glob.glob(os.path.join(ROOT, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, res, bench


def digest_files(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_once(name, srcs, res, stamp, dest, jars, classpath):
    """Compile `srcs` into `dest` unless dest's stamp file already matches."""
    stamp_file = dest + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"compiling {name} failed")
    for p in res:
        out = os.path.join(dest, os.path.relpath(p, os.path.join(ROOT, "src/main/resources")))
        os.makedirs(os.path.dirname(out), exist_ok=True)
        shutil.copyfile(p, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: compiled {name} in {time.time() - t0:.1f} s", file=sys.stderr)


def build(build_dir, jars):
    """Compile graft's main sources, then the harness against them; each
    step is skipped while its sources hash the same. Returns the classpath
    and a hash of graft's and the harness's sources."""
    main, res, bench = sources()
    graft_dir = os.path.join(build_dir, "classes", "graft")
    harness_dir = os.path.join(build_dir, "classes", "harness")
    graft_stamp = digest_files(main + res)
    compile_once("graft", main, res, graft_stamp, graft_dir, jars, None)
    harness_stamp = digest_files(bench, graft_stamp)
    compile_once("harness", bench, [], harness_stamp, harness_dir, jars, graft_dir)
    return [graft_dir, harness_dir], harness_stamp


def generate(workload, seed, out):
    shutil.rmtree(out, ignore_errors=True)
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
           "--seed", str(seed), "--out", out]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"input generation failed for {workload} seed {seed}")


def run_harness(cp, jars, args, log_path, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]),
              "graft.perfbench.Harness"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = p.wait(timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    return code


def show(title, metrics):
    if not metrics:
        return
    print(title)
    for name, m in metrics.items():
        print(f"  {name:<34} {m['value']:>16.6g} {m['unit']:<6} (n={m['n']})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["serve", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp, code_stamp = build(build_dir, jars)

    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    generate(a.workload, a.seed, data)
    args = ["--workload", a.workload, "--data", data, "--work", work,
            "--out", os.path.join(work, "result.json"), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    if a.workload == "pipeline":
        # the set-up warms graft on a second corpus from another seed
        warm = os.path.join(work, "warm")
        generate(a.workload, a.seed + WARM_SEED_OFFSET, warm)
        args += ["--warm-data", warm]

    log = os.path.join(work, "harness.log")
    code = run_harness(cp, jars, args, log, work)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        die(f"harness {'timed out' if code is None else f'exited {code}'} (log: {log})")
    with open(result_path) as f:
        res = json.load(f)

    # output digests must repeat across runs of the same code on the same
    # inputs in this build directory: compare with the previous run's,
    # then record
    digests = res["extra"].get("digests", {})
    inputs = digest_files(sorted(glob.glob(os.path.join(data, "*"))))[:16]
    key = f"{a.workload}-{a.seed}-{inputs}-{code_stamp[:16]}.json"
    store = os.path.join(build_dir, "digests", key)
    if os.path.exists(store):
        with open(store) as f:
            prev = json.load(f)
        same = prev == digests
        res["checks"].append({"name": f"{a.workload}.digest_matches_previous_run",
                              "ok": same, "info": "" if same else f"was {prev}"})
        res["attempted"] += 1
        res["failed"] += 0 if same else 1
    else:
        os.makedirs(os.path.dirname(store), exist_ok=True)
        with open(store, "w") as f:
            json.dump(digests, f, sort_keys=True)

    # the tracing overhead is the traced run's end-to-end values against
    # the last untraced run of the same code on the same inputs
    untraced = os.path.join(build_dir, "untraced", key)
    if not a.trace:
        os.makedirs(os.path.dirname(untraced), exist_ok=True)
        with open(untraced, "w") as f:
            json.dump(res["e2e"], f)

    attempted, failed = res["attempted"], res["failed"]
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace}")
    show("end-to-end (median unless named; n = samples):", res["e2e"])
    if a.trace:
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            print("tracing overhead (this traced run vs the last untraced run, same code and inputs):")
            for k, m in res["e2e"].items():
                b = base.get(k, {}).get("value")
                if b:
                    print(f"  {k:<34} {(m['value'] - b) / b:>+16.2%}")
        else:
            print("tracing overhead: run once with --trace 0 on this seed first")
    show("workload metrics:", res["detail"])
    show("per-layer (traced run):", res["layers"])
    for c in res["checks"]:
        print(f"  check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['info']}")
    print(f"  fail_ratio {failed / max(attempted, 1):.6f} ({failed} of {attempted} operations)")
    if a.trace:
        print(f"  trace: {os.path.join(work, 'result_trace.json')}")

    names = PER_LAYER if a.trace else E2E
    src = res["layers"] if a.trace else res["e2e"]
    missing = [n for n in names if n not in src]
    if missing:
        die(f"harness did not report {missing}")
    metrics = {n: {"value": src[n]["value"], "unit": src[n]["unit"]} for n in names}
    correct = failed == 0 and all(c["ok"] for c in res["checks"])
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
