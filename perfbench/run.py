#!/usr/bin/env python3
"""The repo's benchmark: one command, two workloads, one JVM per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the harness
from source with sbt (offline) the first time, generates its inputs from
the seed, runs the workload in one `local[nproc]` JVM (see
`src/main/scala/perfbench/Harness.scala`), checks every output against the
verified digest, and prints a table of metrics followed, as the last line,
by one JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Everything else it measured goes to
`perfbench/work/results/`.

Workloads and their subsets are in `workloads.py`; the layer table is in
`README.md`.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

import gen
import metrics
import oracle
from workloads import CORPUS_REPLICAS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
HEAP = "3g"
# A fixed young generation, small enough that collections fall inside
# queries, where heap_peak_mb reads what a query holds: in a 3 GB heap's
# default one, a whole query at this scale allocates without a collection.
YOUNG = "64m"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 840
KEEP_CORPORA = 4
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """sha256 over every source the build compiles, plus the build files."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(src_digest):
    """Compile the engine and the harness; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    cp_file, stamp = os.path.join(target, "runtime.classpath"), os.path.join(target, "sources.sha")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == src_digest:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    print("perfbench: building with sbt (first run in this checkout)", file=sys.stderr, flush=True)
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "writeClasspath"], cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(proc, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        tail = open(log_path).read()[-2000:]
        die(f"build failed (exit {rc}):\n{tail}")
    with open(stamp, "w") as f:
        f.write(src_digest)
    return open(cp_file).read().strip()


def wait_or_kill(proc, timeout):
    """The child's exit code, or None if it ran out of time. The child's
    process group is killed if it is still running when this returns or
    raises (a timeout, or SIGTERM to this process)."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def prepare_input(kind, seed):
    """The input directory for a workload: the fixed base tables, or the
    seeded llm_curation corpus built from them. Both are cached under
    `work/data`, keyed by the generator's own digest."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_digest = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(WORK, "data")
    base = os.path.join(data, f"base-{gen_digest}")
    if not os.path.isdir(base):
        gen.write_base(base)
    if kind == "base":
        return base
    corpus = os.path.join(data, f"corpus-{gen_digest}-r{CORPUS_REPLICAS}-s{seed}")
    if not os.path.isdir(corpus):
        gen.write_corpus(base, corpus, seed, CORPUS_REPLICAS)
        old = sorted((d for d in os.listdir(data) if d.startswith("corpus-")),
                     key=lambda d: os.path.getmtime(os.path.join(data, d)))
        for d in old[:-KEEP_CORPORA]:
            shutil.rmtree(os.path.join(data, d), ignore_errors=True)
    return corpus


def input_facts(d):
    rows = {t: pq.ParquetFile(f"{d}/{t}.parquet").metadata.num_rows for t in gen.TABLES}
    size = sum(os.path.getsize(f"{d}/{t}.parquet") for t in gen.TABLES)
    return {"dir": os.path.relpath(d, ROOT), "rows": rows, "bytes": size,
            "digest": gen.dir_digest(d)}


def clean(wdir):
    """Remove what queries write (sinks, checkpoints, warehouse, scratch)."""
    for name in ("target", "spark-warehouse", "metastore_db", "spark-local", "tmp",
                 "dump", "derby.log"):
        p = os.path.join(wdir, name)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def run_harness(cp, workload, input_dir, order, seconds, trace, cores, dump):
    wdir = os.path.join(WORK, "runs", workload)
    os.makedirs(wdir, exist_ok=True)
    clean(wdir)
    os.makedirs(os.path.join(wdir, "tmp"))
    out = os.path.join(wdir, "harness.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={wdir}/tmp",
            "-cp", cp, "perfbench.Harness", "--dir", input_dir, "--queries", ",".join(order),
            "--seconds", str(seconds), "--trace", str(trace), "--cores", str(cores),
            "--out", out]
    if dump:
        cmd += ["--dump", os.path.join(wdir, "dump")]
    launch_ms = time.time() * 1e3
    with open(os.path.join(wdir, "harness.log"), "w") as lf:
        proc = subprocess.Popen(cmd, cwd=wdir, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(proc, JVM_TIMEOUT_S)
    if rc != 0 or not os.path.exists(out):
        tail = open(os.path.join(wdir, "harness.log")).read()[-3000:]
        die(f"harness exited with {rc}:\n{tail}")
    with open(out) as f:
        result = json.load(f)
    return result, launch_ms, wdir


def verified_digests(result, wdir, input_dir, path):
    """Check the warm pass against the oracle once per input and program;
    the warm digests that passed become the reference for timed runs."""
    warm = {e["query"]: e for e in result["warm"]["executions"]}
    checks = oracle.verify(ROOT, input_dir, os.path.join(wdir, "dump"), list(warm),
                           result["oracle_sql"])
    ver = {}
    for q, e in warm.items():
        c = checks[q] if "error" not in e else {"status": "fail", "note": "warm pass threw: " + e["error"]}
        ver[q] = dict(c, digest=e.get("digest"))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(ver, f, indent=1, sort_keys=True)
    return ver


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die(f"{ROOT} holds no engine sources (src/main/scala/graft); run from a checkout")
    w = WORKLOADS[a.workload]
    src_digest = sources_digest()
    cp = build(src_digest)
    input_dir = prepare_input(w["input"], a.seed)
    facts = input_facts(input_dir)
    order = [f"q{n}" for n in w["queries"]]
    random.Random(a.seed).shuffle(order)
    cores = len(os.sched_getaffinity(0))
    ver_path = os.path.join(WORK, "verified", f"{a.workload}-{facts['digest']}-{src_digest}.json")
    ver = None
    if os.path.exists(ver_path):
        with open(ver_path) as f:
            ver = json.load(f)
    load_before = loadavg()
    result, launch_ms, wdir = run_harness(cp, a.workload, input_dir, order, a.seconds,
                                          a.trace, cores, dump=ver is None)
    load_after = loadavg()
    if ver is None:
        ver = verified_digests(result, wdir, input_dir, ver_path)
    clean(wdir)

    execs = [e for p in result["passes"] for e in p["executions"]]
    attempted, failed, reasons = metrics.count_failures(execs, ver)
    dump_s = sum(e.get("dump_s", 0.0) for e in result["warm"]["executions"])
    setup_s = (result["setup_end_ms"] - launch_ms) / 1e3 - dump_s
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "queries": [e["query"] for e in result["warm"]["executions"]],
        "subset_rule": w["rule"], "full_query_list": w["full"],
        "input": facts, "nproc": cores, "heap_max_mb": result["heap_max_mb"],
        "spark_version": result["spark_version"], "loadavg": [load_before, load_after],
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "failures": reasons, "verification": ver,
        "unverified": sorted(q for q, v in ver.items() if v["status"] == "unverified"),
        "setup_s": setup_s, "verify_dump_s": dump_s, "passes": result["passes"],
    }
    if a.trace:
        values, spread = metrics.per_layer(result)
        artifact.update(per_layer=values, per_layer_spread=spread,
                        tables=result["tables"], spans=result["spans"], jobs=result["jobs"])
    else:
        values, info = metrics.end_to_end(result, setup_s)
        values["ok_frac"] = 1.0 - failed / attempted
        artifact.update(end_to_end=values, **info)
    if set(values) != {m["name"] for m in declared}:
        die(f"measured metrics {sorted(values)} differ from BENCHMARK.json's")
    units = {m["name"]: m["unit"] for m in declared}
    res_dir = os.path.join(WORK, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    print(f"workload {a.workload}: {len(order)} queries, {len(result['passes'])} timed passes, "
          f"{attempted} executions, input {facts['bytes']} bytes ({facts['digest']}), "
          f"nproc {cores}, heap {result['heap_max_mb']:.0f} MB, "
          f"Spark {result['spark_version']}, loadavg {load_before[0]:.2f}")
    if not a.trace:
        print(f"  {'failed_frac':<28} {failed / attempted:>12.4f} ratio")
        print(f"  {'query_max_s is':<28} {artifact['slowest_query']}")
    if artifact["unverified"]:
        print(f"  unverified: {', '.join(artifact['unverified'])}")
    for q, why in reasons.items():
        print(f"  FAILED {q}: {why}")
    for k in units:
        print(f"  {k:<28} {values[k]:>12.4f} {units[k]}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": values[k], "unit": u}
                                  for k, u in units.items()}}))


if __name__ == "__main__":
    main()
