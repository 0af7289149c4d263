#!/usr/bin/env python3
"""Benchmark for KG build, KG query and RDF round-trip.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source on first use (sbt,
output in .bench_build/), generates the workload's inputs from the seed
(.bench_work/), runs one JVM on local[<cores>] with one closed-loop client,
checks every output, and prints the metrics. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones (a layer the workload does not use reads 0).

--selftest 1 plants one error per output check and exits 0 only if exactly
the planted checks report a failure.
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

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))

# Load properties, fixed per workload and recorded in the output.
KG_BUILD_REPLICAS = 4
KG_QUERY_REPLICAS = 1
RDF_TRIPLES = 120000
RDF_GRAPHS = 16

# The program's own JVM settings (build.sbt), with a fixed heap: a heap
# that grows on demand made peak RSS vary from run to run.
JVM_OPTS = [
    "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", "-Dspark.buffer.pageSize=4m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt")])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile program + benchmark once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        fail("program sources (src/main/scala/graft) not found: run from the repository root")
    stamp = os.path.join(BUILD, "classpath.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached["sources"] == want:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    # the toolchain's own SBT_OPTS (offline repositories) plus a global base
    # inside the checkout
    repos = "-Dsbt.override.build.repos=true -Dsbt.repository.config=" + \
        os.path.expanduser("~/.sbt/repositories")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        os.environ.get("SBT_OPTS") or repos, "-Dsbt.offline=true",
        "-Dsbt.server.autostart=false", f"-Dsbt.global.base={BUILD}/sbt-global"]))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        print(proc.stdout[-3000:], file=sys.stderr)
        fail("build failed")
    with open(stamp, "w") as fh:
        json.dump({"sources": want, "classpath": lines[-1]}, fh)
    return lines[-1]


def make_inputs(workload, seed, work):
    """Generate the workload's inputs; return (JVM args, recorded properties)."""
    if not os.path.exists(os.path.join(SF_DIR, "documents.parquet")):
        fail(f"testdata not found at {SF_DIR} (set PERFBENCH_SF_DIR)")
    if workload in ("kg_build", "kg_query"):
        r = KG_BUILD_REPLICAS if workload == "kg_build" else KG_QUERY_REPLICAS
        corpus = os.path.join(work, "corpus")
        docs = gen.corpus(SF_DIR, corpus, r, seed)
        return ["--corpus", corpus], {"replicas": r, "documents": docs}
    path = os.path.join(work, "triples.parquet")
    n = gen.triples(path, RDF_TRIPLES, RDF_GRAPHS, seed)
    return ["--triples", path, "--graphs", str(RDF_GRAPHS)], {"graphs": RDF_GRAPHS, "triples": n}


def oracle_checks(work):
    """The repo's DuckDB oracle check over the dumped query outputs."""
    verify = os.path.join(work, "verify")
    with open(os.path.join(verify, "oracle_sql.json")) as fh:
        names = sorted(json.load(fh))
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools/check_oracles.py"),
             os.path.join(work, "corpus"), verify, ",".join(names)],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=60).stdout
    except subprocess.TimeoutExpired:
        out = ""
    ok = {l.split()[1].rstrip(":") for l in out.splitlines() if l.startswith("[OK] ")}
    return [{"name": f"oracle.{n}", "ok": n in ok,
             "detail": "" if n in ok else next((l for l in out.splitlines()
                                                 if f" {n}:" in l), "no result")}
            for n in names]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["kg_build", "kg_query", "rdf_roundtrip"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = classpath()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        jvm_args, props = make_inputs(a.workload, a.seed, work)
        result = os.path.join(work, "result.json")
        cmd = (["java"] + JVM_OPTS + [
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--selftest", str(a.selftest),
            "--work", work, "--out", result] + jvm_args)
        log = os.path.join(work, "jvm.log")
        started = time.time()
        with open(log, "w") as fh:
            try:
                rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT,
                                    timeout=a.seconds + 150).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        shutil.copy(log, os.path.join(WORK, f"jvm-{a.workload}-{a.seed}.log"))
        if rc != 0 or not os.path.exists(result):
            with open(log) as fh:
                print(fh.read()[-4000:], file=sys.stderr)
            fail(f"benchmark JVM exited with {rc}")
        with open(result) as fh:
            res = json.load(fh)
        res["info"]["jvm_s"] = f"{time.time() - started:.2f}"
        checks = res["checks"] + (oracle_checks(work) if a.workload == "kg_query" else [])
        spans = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.json")
        with open(spans, "w") as fh:
            json.dump({"spans": res["spans"], "info": res["info"]}, fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = res["ops_failed"]
    failed = failed_ops + sum(1 for c in checks if not c["ok"])
    attempted = res["ops_attempted"] + len(checks)

    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        got = res["per_layer"]
        unknown = sorted(set(got) - set(names))
        if unknown:
            fail(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        metrics = {n: got.get(n, {"value": 0, "unit": next(
            m["unit"] for m in spec["per_layer"] if m["name"] == n)}) for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        missing = [n for n in names if n not in res["end_to_end"]]
        if missing:
            fail(f"end-to-end metrics not measured: {missing}")
        metrics = {n: res["end_to_end"][n] for n in names}

    info = dict(props, **res["info"])
    for k, v in info.items():
        print(f"# {k}: {v}")
    for c in checks:
        if not c["ok"]:
            print(f"# FAILED CHECK {c['name']}: {c['detail']}")
    print(f"# checks: {sum(c['ok'] for c in checks)}/{len(checks)} passed; "
          f"ops failed: {failed_ops}")
    samples = {"setup_s": info.get("setups"), "unit_s_p50": info.get("units"),
               "triples_per_s": info.get("units"), "op_ms_p50": info.get("ops"),
               "peak_rss_mb": 1}
    for n, m in metrics.items():
        n_of = f"  (n={samples[n]})" if n in samples else ""
        print(f"{n:44s} {m['value']!s:>24} {m['unit']}{n_of}")
    print(f"# per-layer spans: {spans}")

    if a.selftest:
        planted = {p for p in info.get("planted", "").split(",") if p}
        caught = {c["name"] for c in checks if not c["ok"]}
        print(f"# self-test planted: {sorted(planted)}")
        print(f"# self-test failing: {sorted(caught)}")
        sys.exit(0 if planted and planted == caught else 1)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
