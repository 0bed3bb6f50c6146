#!/usr/bin/env python3
"""Benchmark of the spark-graft catalog: named workloads of catalog keys,
run back to back from one closed-loop client in one `local[N]` JVM.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One run:
  1. builds the engine and the harness with sbt (skipped when the sources
     are unchanged since the last build in this checkout);
  2. generates the bench tables (`datagen.py`, fixed content, cached);
  3. measures set-up (JVM start -> session built -> one untimed warmup
     query) in three JVMs and reports the median;
  4. in the last of them runs one cold pass and then warm passes over the
     workload's keys for S seconds, in a key order permuted by the seed;
  5. checks every oracle-covered key's output against its
     `SparkEntry.oracleSql` query run by DuckDB over the same tables;
  6. prints one line per metric, then one JSON object as the last line.

`--trace 0` reports the end-to-end metrics. `--trace 1` reports the
per-layer metrics, read from Spark's listener APIs on alternate warm
passes, and writes the span tree to `.perfbench/traces/`.

Timings are of full materialization (a `noop` write), so they are not
comparable with `graft.Bench`, which times `count()`.
"""
import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".perfbench"
SETUPS = 3
RUN_TIMEOUT_S = 165  # for everything after the build
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"),
              ("query_ms.p50", "ms"), ("peak_heap_mb", "MB")]
PER_LAYER = [
    ("ops.build_ms", "ms"), ("ops.build_jobs", "count"),
    ("Tables.load_jobs", "count"), ("Tables.load_ms", "ms"),
    ("Tables.input_bytes", "bytes"),
    ("catalyst.executions", "count"), ("catalyst.executions_per_key", "ratio"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("codegen.classes", "count"), ("codegen.classes_warm", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.stages_skipped", "count"), ("scheduler.stage_reuse", "ratio"),
    ("scheduler.tasks", "count"), ("scheduler.task_wait_ms", "ms"),
    ("scheduler.broadcasts", "count"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"),
    ("executor.gc_ms", "ms"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_ms", "ms"), ("shuffle.spill_bytes", "bytes"),
    ("storage.output_bytes", "bytes"), ("storage.block_bytes", "bytes"),
    ("streaming.batches", "count"), ("streaming.trigger_ms", "ms"),
    ("streaming.state_rows", "count"), ("streaming.state_commit_ms", "ms"),
    ("self_share.ops", "ratio"), ("self_share.catalyst", "ratio"),
    ("self_share.scheduler", "ratio"), ("self_share.executor", "ratio"),
    ("self_share.action", "ratio"),
    ("traced.warm_s", "s"), ("tracing.overhead_ms", "ms"),
    ("leaked_state", "count"), ("query_ms.samples", "count")]


class BenchError(Exception):
    """A failure of the benchmark itself: no result is printed."""


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def sources(*dirs):
    return [p for d in dirs if d.exists() for p in d.rglob("*") if p.is_file()]


def build():
    """Compile engine + harness; return the runtime classpath."""
    fp = digest(sources(ROOT / "src" / "main", BENCH / "src") + [
        ROOT / "build.sbt", ROOT / "project" / "build.properties",
        BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    stamp = STATE / "build.json"
    if stamp.exists():
        b = json.loads(stamp.read_text())
        if b["fingerprint"] == fp and all(Path(c).exists() for c in b["classpath"]):
            return b["classpath"]
    if not shutil.which("sbt"):
        raise BenchError("sbt is not on PATH")
    log("building engine and harness with sbt")
    STATE.mkdir(parents=True, exist_ok=True)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=800)
    except subprocess.TimeoutExpired:
        raise BenchError("sbt build timed out")
    (STATE / "build.log").write_text(p.stdout + p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise BenchError("sbt build failed:\n" + "\n".join(
            (p.stdout + p.stderr).splitlines()[-30:]))
    cp = lines[-1].strip().split(os.pathsep)
    stamp.write_text(json.dumps({"fingerprint": fp, "classpath": cp}))
    return cp


def bench_data():
    """The bench tables, generated once per generator version."""
    gen = BENCH / "datagen.py"
    d = STATE / "data" / digest([gen])
    if not (d / "_SUCCESS").exists():
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, str(gen), str(tmp)], check=True,
                       timeout=120)
        (tmp / "_SUCCESS").touch()
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def jvm(cp, work, args, deadline):
    """One harness JVM, stopped at `deadline`; returns its result.json."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [str(java)] + [a for p in ADD_OPENS
                         for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx4g", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join(cp), "graft.perfbench.Main",
            "--work", str(work)] + args + ["--t0", str(time.time_ns())]
    t0 = time.time()
    with open(work / "jvm.log", "w") as out:
        try:
            p = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=out,
                               stderr=subprocess.STDOUT,
                               timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness JVM timed out; log: {work / 'jvm.log'}")
    log(f"{work.name} JVM ran {time.time() - t0:.1f} s")
    res = work / "result.json"
    if p.returncode != 0 or not res.exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-20:]
        raise BenchError("harness JVM failed:\n" + "\n".join(tail))
    return json.loads(res.read_text())


def oracle_check(result, check_dir, data_dir):
    """Compare each checked key's output with DuckDB running its oracle
    SQL over the same tables, with `tools/oracle_check.py`'s canonical
    form. Expected frames are cached by (SQL text, data dir); only DuckDB
    produces them. Returns the list of mismatches."""
    import duckdb
    import pandas as pd
    sys.dont_write_bytecode = True  # leave no __pycache__ beside the module
    spec = importlib.util.spec_from_file_location(
        "oracle_check", ROOT / "tools" / "oracle_check.py")
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    cache = STATE / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in oc.TABLES:
        p = data_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    problems = []
    for name, sql in sorted(result["oracle_sql"].items()):
        out = check_dir / name
        if not out.exists():
            continue  # the harness already counted this key as failed
        key = hashlib.sha256(f"{sql}\0{data_dir}".encode()).hexdigest()
        cached = cache / f"{key}.pkl"
        if cached.exists():
            want = pd.read_pickle(cached)
        else:
            want = oc.canon(con.execute(sql).df())
            want.to_pickle(cached)
        got = oc.canon(con.execute(
            f"SELECT * FROM read_parquet('{out}/*.parquet')").df())
        if list(got.columns) != list(want.columns):
            problems.append(f"{name}: columns spark={list(got.columns)} "
                            f"oracle={list(want.columns)}")
        elif len(got) != len(want):
            problems.append(f"{name}: rows spark={len(got)} oracle={len(want)}")
        else:
            for c in got.columns:
                a, b = got[c], want[c]
                if str(a.dtype) != str(b.dtype):
                    problems.append(f"{name}: dtype[{c}] spark={a.dtype} "
                                    f"oracle={b.dtype}")
                    break
                eq = a.astype(str) == b.astype(str)
                if not eq.all():
                    i = int(eq.idxmin())
                    problems.append(f"{name}: value[{c}] row {i}: "
                                    f"spark={a.iloc[i]!r} oracle={b.iloc[i]!r}")
                    break
    return problems


def clean_engine_stores(data_dir):
    """Some operators stage stores under hard-coded /tmp/graft_* roots,
    named after the data dir (`ops.StoreStage.path`); remove this
    checkout's so no run reads another's."""
    tag = re.sub("[^A-Za-z0-9]", "_", str(data_dir))
    for root in Path("/tmp").glob("graft_*"):
        if root.is_dir():
            for p in root.glob(tag + "_*"):
                shutil.rmtree(p, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala",
                 "tools/oracle_check.py"):
        if not (ROOT / need).exists():
            raise BenchError(f"not a spark-graft checkout: {need} is missing")

    cp = build()
    data = bench_data()
    run_dir = STATE / "run"
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    common = ["--workload", a.workload, "--data", str(data)]
    clean_engine_stores(data)
    deadline = time.time() + RUN_TIMEOUT_S
    try:
        setups = [jvm(cp, run_dir / f"setup{i}", common + ["--mode", "setup"],
                      deadline)["setup_s"] for i in range(SETUPS - 1)]
        r = jvm(cp, run_dir / "main", common + [
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)], deadline)
        problems = oracle_check(r, run_dir / "main" / "check", data)
        if a.trace:
            traces = STATE / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(run_dir / "main" / "trace.jsonl",
                        traces / f"{a.workload}-seed{a.seed}.jsonl")
    finally:
        clean_engine_stores(data)
        shutil.rmtree(run_dir, ignore_errors=True)
    r["setup_s"] = statistics.median(setups + [r["setup_s"]])

    failed = r["failed"] + len(problems)
    for f in r["failures"] + [f"{p} (oracle mismatch)" for p in problems]:
        print(f"FAILED {f}")
    for leak in r["leaks"]:
        print(f"LEAK {leak}")
    for k, ms in sorted(r["key_warm_ms"].items(), key=lambda kv: -kv[1]):
        print(f"key {k}: {ms:.1f} ms warm median")
    print(f"workload {a.workload}: {r['keys']} keys, {r['passes']} passes, "
          f"local[{cpus}], {len(r['oracle_sql'])} keys oracle-checked")
    print(f"failed_share = {failed / r['attempted']:.4f} "
          f"({failed} of {r['attempted']} key executions)")
    print(f"leaked_state = {r['leaked_state']} count")
    print(f"query_ms samples = {r['query_ms.samples']}")
    print("warm pass totals (s) = " +
          " ".join(f"{x:.3f}" for x in r["warm_pass_s"]))
    print("heap after GC by pass (MB) = " +
          " ".join(f"{h:.1f}" for h in r["heap_mb_by_pass"]))
    names = PER_LAYER if a.trace else END_TO_END
    metrics = {n: {"value": r[n], "unit": u} for n, u in names}
    for n, m in metrics.items():
        print(f"{n} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": r["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        log(str(e))
        sys.exit(2)
