#!/usr/bin/env python3
"""Benchmark of record for graft: the two Wikidata bot pipelines against
a calibrated loopback API stub, plus a slice of the query catalog.

Usage, from the repository root:

    python3 perfbench/run.py --workload {tmdb_api,batch} \
        --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --selftest

The first call builds the program and the harness from source with the
standalone sbt build in this directory (output under $CARGO_TARGET_DIR,
default .bench_build). Each run starts one JVM (Spark local[nproc]),
sets up, measures for S seconds, checks every output, and prints one
JSON object as the last stdout line. With --trace 0 its metrics are the
end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer ones.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

RUN_TIMEOUT_S = 170
# A fixed heap with a large young generation: few young collections
# per unit, so the after-GC heap readings do not depend on when they
# happen to fall.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn1g"]
# Scale factor of the catalog tables: the size of the repository's
# oracle-checked test data (TESTDATA.md), about 60,000 lineitem rows.
CATALOG_SF = 0.01
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compiles program + harness unless the sources are unchanged."""
    classes = os.path.join(build_dir, "sbt-target", "scala-2.13", "classes")
    stamp = os.path.join(build_dir, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return classes
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(build_dir, "sbt-target"),
               COURSIER_MODE="offline")
    sbt_opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in sbt_opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        extra = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            extra += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join([sbt_opts] + extra).strip()
    log("building program and harness with sbt")
    t0 = time.time()
    with open(os.path.join(build_dir, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        with open(os.path.join(build_dir, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"build failed (exit {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def run_jvm(classes, workdir, args, timeout):
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *JVM_MEMORY, "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        "-Dsun.net.httpserver.nodelay=true", "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{spark_jars}", "perfbench.Main"] + args
    with open(os.path.join(workdir, "jvm.log"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("benchmark JVM timed out")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with open(os.path.join(workdir, "jvm.log")) as f:
        jvm_log = f.read()
    if proc.returncode != 0:
        sys.stderr.write(jvm_log[-6000:])
    else:
        sys.stderr.writelines(l + "\n" for l in jvm_log.splitlines() if l.startswith("[perfbench]"))
    return proc.returncode, out


def oracle_check(tables_dir, check_dir, queries, timeout):
    """Compares the catalog results with DuckDB running each query's
    oracle SQL, using the repository's own checker; returns the number
    of queries that did not pass."""
    try:
        p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                            tables_dir, check_dir], capture_output=True, text=True,
                           stdin=subprocess.DEVNULL, timeout=timeout)
        out = p.stdout
    except subprocess.TimeoutExpired:
        out = ""
    m = re.search(r"^PASS \(\d+\): ?(.*)$", out, re.M)
    passed = set(m.group(1).split()) if m else set()
    bad = [q for q in queries if q not in passed]
    if bad:
        log(f"catalog checks failed for {bad}:\n{out[-2000:]}")
    return len(bad)


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("program sources not found: run from a checkout of the repository")
    spec = bench_spec()
    names = [w["name"] for w in spec["workloads"]]
    if not a.selftest and a.workload not in names:
        raise SystemExit(f"unknown workload {a.workload!r}; expected one of {names}")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", os.path.join(ROOT, ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)
    start = built = time.time()
    tag = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    workdir = os.path.join(build_dir, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        if a.selftest:
            raise SystemExit(selftest(classes, workdir))
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--workdir", workdir]
        tables = os.path.join(workdir, "tables")
        if a.workload == "batch":
            import tables as gen
            # set up several times and count the median once, as the JVM
            # does for its own set-up
            reps = []
            for _ in range(3):
                t0 = time.time()
                shutil.rmtree(tables, ignore_errors=True)
                gen.generate(a.seed, tables, CATALOG_SF)
                reps.append(time.time() - t0)
            start += sum(reps) - statistics.median(reps)
            args += ["--tables", tables]
        args += ["--start-ms", str(int(start * 1000))]
        rc, out = run_jvm(classes, workdir, args, RUN_TIMEOUT_S - (time.time() - built))
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if rc != 0 or not lines:
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        res = json.loads(lines[-1])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "batch":
            queries = res["extra"]["queries"].split(",")
            attempted += len(queries)
            failed += oracle_check(tables, res["extra"]["check_dir"], queries,
                                   max(1.0, RUN_TIMEOUT_S + 5 - (time.time() - built)))
        if a.trace and os.path.exists(os.path.join(workdir, "spans.json")):
            os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
            shutil.copy(os.path.join(workdir, "spans.json"),
                        os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}.json"))

        e2e = res["end_to_end"]
        frac = failed / attempted if attempted else 1.0
        print(f"{a.workload} seed={a.seed}: setup_s={e2e['setup_s']:.3f} s  job_s={e2e['job_s']:.3f} s  "
              f"api_calls={e2e['api_calls']:.0f} count  heap_peak_mb={e2e['heap_peak_mb']:.1f} MB  "
              f"ops_failed_frac={frac:.4f} ({failed}/{attempted})  units={res['iterations']}")
        declared = spec["per_layer"] if a.trace else spec["end_to_end"]
        source = res["per_layer"] if a.trace else e2e
        metrics = {}
        for m in declared:
            v = source.get(m["name"], 0.0 if a.trace else None)
            if v is None or (isinstance(v, float) and math.isnan(v)):
                raise SystemExit(f"metric {m['name']} was not measured")
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def selftest(classes, workdir):
    """Self-tests of the benchmark: the JVM-side checks, and that the
    table generator is deterministic. Returns the exit code."""
    import tables as gen
    ok = True
    a, b, c = (os.path.join(workdir, d) for d in ("ta", "tb", "tc"))
    gen.generate(5, a, 0.001), gen.generate(5, b, 0.001), gen.generate(6, c, 0.001)
    same = all(open(os.path.join(a, f), "rb").read() == open(os.path.join(b, f), "rb").read()
               for f in os.listdir(a))
    differ = open(os.path.join(a, "lineitem.parquet"), "rb").read() != \
        open(os.path.join(c, "lineitem.parquet"), "rb").read()
    print(f"[selftest] {'PASS' if same and differ else 'FAIL'} same seed gives byte-identical tables")
    ok &= same and differ
    rc, out = run_jvm(classes, workdir, ["--workload", "selftest", "--seed", "0", "--seconds", "0",
                                         "--trace", "0", "--workdir", workdir,
                                         "--start-ms", str(int(time.time() * 1000))], RUN_TIMEOUT_S)
    sys.stdout.write(out)
    return 0 if ok and rc == 0 else 1


if __name__ == "__main__":
    main()
