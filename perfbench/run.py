#!/usr/bin/env python3
"""Benchmark launcher for the json-streams Spark engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark harness from source into .bench_build/
(once per source change), makes the workload's inputs from the seed, runs
the workload in one JVM, checks every output against an independently
computed expected result, and prints one JSON object as the last line of
standard output: {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the run also writes a
trace artifact (spans, self times, per-gate breakdown) under
.bench_build/artifacts/.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
DEADLINE_S = 175
WORKLOADS = ("aggregate_counter", "merge_join", "batch_gates")
# Spark local[k]: two cores for Spark leave the driver, the generator thread,
# JIT and GC cores of their own on a 4-core machine
CPUS = min(2, os.cpu_count() or 1)
HEAP = "3g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jars not found at {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("no engine sources under src/main/scala: "
                         "run from the repository root")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with the Scala compiler shipped in Spark's
    jars; skipped when the sources are unchanged since the last build."""
    files = sources()
    stamp = digest(files)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return stamp
    log(f"compiling {len(files)} Scala sources")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    t0 = time.time()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(),
           "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
           "-classpath", spark_jars(), "@" + args_file]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=800)
    if proc.returncode != 0:
        raise SystemExit(f"compilation failed ({proc.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"compiled in {time.time() - t0:.1f}s")
    return stamp


def git_commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return None


def rows_of(table):
    """check.py's rule: columns sorted by name, rows by all columns,
    floats rounded to 9 digits."""
    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, norm(x)) for k, x in v.items()))
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return v
    cols = sorted(table.column_names)
    rows = [tuple(norm(r[c]) for c in cols) for r in table.select(cols).to_pylist()]
    return sorted(rows, key=repr), cols


def check_gates(tables_dir, out_dir):
    """Compare each gate's output with its DuckDB oracle. Returns the
    names of the gates that failed and a note per failure."""
    import duckdb
    import pyarrow.parquet as pq
    gates = json.load(open(os.path.join(out_dir, "gates.json")))
    failed = set(gates["failed"])
    oracle = gates["oracle"]
    notes = []
    con = duckdb.connect()
    for t in glob.glob(os.path.join(tables_dir, "*.parquet")):
        name = os.path.basename(t)[:-8]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
    for g in oracle:
        if g in failed:
            continue
        files = glob.glob(os.path.join(out_dir, g, "*.parquet"))
        if not files:
            failed.add(g)
            notes.append(f"{g}: no output")
            continue
        if oracle[g] is None:
            continue  # no oracle: the gate must only not throw
        try:
            got, gcols = rows_of(pq.read_table(files[0]))
            want, wcols = rows_of(con.sql(oracle[g]).arrow())
            if gcols != wcols or got != want:
                failed.add(g)
                notes.append(f"{g}: differs from its oracle "
                             f"({len(got)} vs {len(want)} rows)")
        except Exception as e:  # noqa: BLE001 - any oracle error fails the gate
            failed.add(g)
            notes.append(f"{g}: {str(e).splitlines()[0]}")
    return failed, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {a.workload}")
    stamp = build()

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if a.workload == "batch_gates":
        sys.path.insert(0, HERE)
        import gen_tables
        gen_tables.write(os.path.join(work, "tables"), a.seed)

    result_file = os.path.join(work, "result.json")
    cmd = ["java", "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", os.pathsep.join([CLASSES, os.path.join(ROOT, "src/main/resources"),
                                    spark_jars()]),
            "graftbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), str(CPUS), work, result_file]
    budget = DEADLINE_S - (time.time() - t_start)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(10, budget))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("benchmark JVM exceeded its time budget")
    if code != 0 or not os.path.exists(result_file):
        raise SystemExit(f"benchmark JVM failed with exit code {code}")
    res = json.load(open(result_file))
    notes = list(res["notes"])
    failed = res["failed"]
    if a.workload == "batch_gates":
        bad, gate_notes = check_gates(os.path.join(work, "tables"),
                                      os.path.join(work, "gate_out"))
        failed = len(bad)
        notes += gate_notes
    attempted = res["attempted"]
    for n in notes[:10]:
        log(f"check: {n}")

    if a.trace:
        wanted = bench["per_layer"]
        source = dict(res["layers"])
        source["fail_ratio"] = failed / max(1, attempted)
        source["trace.overhead_ms"] = res["trace_overhead_ms"]
        # layers a workload does not pass through read 0
        metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in wanted}
    else:
        wanted = bench["end_to_end"]
        metrics = {m["name"]: {"value": res["metrics"][m["name"]]["value"],
                               "unit": m["unit"]} for m in wanted}

    env = dict(res["env"])
    env.update({"source_digest": stamp, "git_commit": git_commit(),
                "heap": HEAP, "nproc": os.cpu_count(),
                "launcher_wall_s": round(time.time() - t_start, 3)})
    artifacts = os.path.join(BUILD, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    art = dict(res)
    art.update({"env": env, "failed": failed, "notes": notes, "printed": metrics})
    with open(os.path.join(artifacts, f"{run_id}.json"), "w") as fh:
        json.dump(art, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"env": env, "info": res["info"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
