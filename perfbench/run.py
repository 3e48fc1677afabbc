#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload inventory_sf0.001 --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the program and the JVM harness
(perfbench/src) with sbt on first use, generates the workload's inputs
from the seed (perfbench/gen.py), runs the workload in fresh Spark
sessions (`local[N]`, N = usable cores), checks every query's output
(DuckDB replay of `SparkEntry.oracleSql`, structural checks for the
three rows-only queries), and prints the metrics.

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
metrics from a separately traced session. The last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}; the lines
before it are a readable summary, and the full per-query artifacts stay
in perfbench/out/<workload>-s<seed>-t<trace>/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

with open(os.path.join(HERE, "workloads.json")) as _fh:
    WORKLOADS = json.load(_fh)["workloads"]

MIN_PASSES = 3        # timed passes, at least: a fixed count keeps runs comparable
TRACE_PASSES = 2      # traced passes in a --trace 1 run, one untraced between
JVM_TIMEOUT_S = 150
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ------------------------------------------------------------------

def _sources():
    """Every file the build compiles, for the up-to-date stamp."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("program sources not found: run from the repository root")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and "SBT_OPTS" not in os.environ:
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


# ---- JVM runs ---------------------------------------------------------------

def cpus():
    return len(os.sched_getaffinity(0))


def jvm(cp, mode, data, out, queries, seconds, seed):
    """Run one harness JVM and return its JSON result."""
    tmp = os.path.join(out, "tmp")  # Spark's scratch space stays in the checkout
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so peak RSS does not hinge on when the heap grows;
    # 2 GB, not the program's 8 GB default (SPARK_DRIVER_MEM in build.sbt),
    # to keep the benchmark's memory small: peak_rss_mb, GC and the pass
    # timings are for this heap
    cmd = ["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "org.apache.spark.perfbench.Harness", f"mode={mode}",
            f"data={data}", f"out={out}", "queries=" + ",".join(queries),
            f"seconds={seconds}", f"passes={TRACE_PASSES if mode == 'trace' else MIN_PASSES}",
            f"cpus={cpus()}", f"seed={seed}"]
    log = os.path.join(out, f"{mode}.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{mode} JVM timed out; log in {log}")
    if p.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{mode} JVM exited with {p.returncode}")
    with open(os.path.join(out, f"{mode}.json")) as fh:
        return json.load(fh)


# ---- metrics ----------------------------------------------------------------

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "query_p50_s": "s",
    "query_p90_s": "s", "peak_rss_mb": "MB"}


def end_to_end(run):
    """End-to-end metrics from a `run` result."""
    samples = [s for xs in run["query_s"].values() for s in xs]
    values = {
        "setup_s": run["setup_s"],
        "pass_s": statistics.median(run["pass_s"]),
        "pass_cpu_s": statistics.median(run["pass_cpu_s"]),
        "query_p50_s": float(np.percentile(samples, 50)),
        "query_p90_s": float(np.percentile(samples, 90)),
        "peak_rss_mb": run["peak_rss_mb"],
    }
    return {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}


SUMMED = {  # per-layer metric -> per-query counter summed over a traced pass
    "operators.build_ms": "build_ms", "operators.build_jobs": "build_jobs",
    "planning.optimize_ms": "optimize_ms", "planning.physical_ms": "physical_ms",
    "execution.ms": "execution_ms", "execution.jobs": "jobs",
    "execution.stages": "stages", "execution.tasks": "tasks",
    "execution.task_run_ms": "task_run_ms", "execution.task_cpu_ms": "task_cpu_ms",
    "execution.gc_ms": "gc_ms", "execution.shuffle_read_bytes": "shuffle_read_bytes",
    "execution.shuffle_write_bytes": "shuffle_write_bytes",
    "execution.input_records": "input_records",
}
# direct probes the harness makes in a traced run (Harness.probeLayers)
PROBES = (["core.tables.load_ms", "core.tables.load_jobs", "ml.codebook_train_ms"]
          + [f"operators.{m}.build_ms" for m in ("Relational", "TextQueries", "Dedup",
                                                  "Similarity", "WindowQueries", "MlQueries")]
          + [f"functions.{k}.ns_per_row" for k in ("clean_text", "token_stats", "fingerprint",
                                                    "word_shingles", "sum_dec", "dot")])
EXACT = ["build_jobs", "jobs", "stages", "tasks", "shuffle_read_bytes",
         "shuffle_write_bytes", "input_records"]


def _unit(name):
    for suffix, unit in (("ns_per_row", "ns/row"), ("ms", "ms"), ("_s", "s"),
                         ("bytes", "bytes"), ("slot_util", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def pass_sums(trace):
    """Per traced pass: {counter: sum over the workload's queries}."""
    return [{k: sum(q.get(k, 0.0) for q in p.values())
             for k in set(SUMMED.values()) | {"analysis_ms", "write_ms"}}
            for p in trace["traced"]]


def per_layer(trace):
    """Per-layer metrics from a `trace` result."""
    sums = pass_sums(trace)
    med = {k: statistics.median(s[k] for s in sums) for k in sums[0]}
    v = {name: med[counter] for name, counter in SUMMED.items()}
    v["execution.slot_util"] = med["task_run_ms"] / (med["execution_ms"] * trace["cpus"])
    v["execution.codegen_compiles"] = float(trace["cold_codegen_compiles"])
    v["execution.codegen_compile_ms"] = float(trace["cold_codegen_ms"])
    v["execution.warm_codegen_compiles"] = float(trace["warm_codegen_compiles"]) / len(sums)
    if sorted(trace["probes"]) != sorted(PROBES):
        fail(f"harness probes {sorted(trace['probes'])} differ from {sorted(PROBES)}")
    v.update(trace["probes"])
    traced_pass = statistics.median((s["build_ms"] + s["write_ms"]) / 1e3 for s in sums)
    v["trace.pass_s"] = traced_pass
    v["trace.overhead_s"] = traced_pass - statistics.median(trace["plain_pass_s"])
    return {k: {"value": x, "unit": _unit(k)} for k, x in sorted(v.items())}


def exact_counts(trace):
    """Counts that should repeat exactly between passes, per query, and
    whether they did."""
    per_query = {}
    for q in trace["queries"]:
        rows = [{k: p[q].get(k, 0.0) for k in EXACT} for p in trace["traced"]]
        per_query[q] = {"counts": rows[0], "repeats_exactly": all(r == rows[0] for r in rows)}
    return {"per_query": per_query,
            "per_pass": [{k: s[k] for k in EXACT} for s in pass_sums(trace)],
            "cold_codegen_compiles": trace["cold_codegen_compiles"],
            "warm_codegen_compiles": trace["warm_codegen_compiles"]}


def declared(kind):
    """Metric names BENCHMARK.json declares under `kind`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return sorted(m["name"] for m in json.load(fh)[kind])


def outcome(res, mismatches):
    """(attempted, failed): executions that threw, plus checked outputs
    that were wrong, against every execution the run made."""
    return res["attempted"], res["failed"] + len(mismatches)


# ---- main -------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description="repository benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    w = WORKLOADS[a.workload]

    t_start = time.time()
    phases = {}
    cp = build()
    phases["build_s"] = time.time() - t_start
    out = os.path.join(HERE, "out", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    data = os.path.join(out, "data")
    t = time.time()
    rows = gen.generate(a.seed, data, w["corpus"])
    queries = w["queries"]
    phases["generate_s"] = time.time() - t

    mode = "trace" if a.trace else "run"
    t = time.time()
    res = jvm(cp, mode, data, out, queries, a.seconds, a.seed)
    phases["jvm_s"] = time.time() - t
    t = time.time()
    mismatches = oracle.check(data, os.path.join(out, "check"), queries)
    phases["check_s"] = time.time() - t
    attempted, failed = outcome(res, mismatches)
    metrics = per_layer(res) if a.trace else end_to_end(res)
    if sorted(metrics) != declared("per_layer" if a.trace else "end_to_end"):
        fail("emitted metric names differ from BENCHMARK.json")
    artifact = {"workload": a.workload, "seed": a.seed, "rows": rows, "cpus": cpus(),
                "queries": queries, "errors": res["errors"], "mismatches": mismatches,
                "attempted": attempted, "failed": failed, "metrics": metrics,
                "phases": phases, "wall_s": time.time() - t_start}
    if a.trace:
        artifact["exact_counts"] = exact_counts(res)
        artifact["per_query"] = res["traced"]
    else:
        artifact["samples"] = sum(len(x) for x in res["query_s"].values())
    with open(os.path.join(out, "result.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    for d in (data, os.path.join(out, "tmp")):
        shutil.rmtree(d, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed}: {len(queries)} queries, "
          f"local[{cpus()}], documents={rows['documents']}, wall {artifact['wall_s']:.1f} s")
    for q, m in {**res["errors"], **mismatches}.items():
        print(f"  FAILED {q}: {m}")
    print(f"  failed_frac {failed / attempted:.4f} ({failed} of {attempted})")
    if a.trace:
        m = {k: v["value"] for k, v in metrics.items()}
        analysis = statistics.median(s["analysis_ms"] for s in pass_sums(res))
        layers = (m["operators.build_ms"] + analysis + m["planning.optimize_ms"]
                  + m["planning.physical_ms"] + m["execution.ms"]) / 1e3
        print(f"  build + planning + execution = {layers:.3f} s; untraced pass "
              f"{statistics.median(res['plain_pass_s']):.3f} s; overhead "
              f"{m['trace.overhead_s']:+.3f} s")
    else:
        print(f"  timed query executions: {artifact['samples']} "
              f"({len(res['pass_s'])} passes); CPU stolen by the host meanwhile: "
              f"{res['steal_s']:.2f} s")
    for k, m in metrics.items():
        print(f"  {k:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
