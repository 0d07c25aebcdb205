#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source if needed
(perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs one JVM that sets up, warms up and times a
closed loop of operations (perfbench/harness), checks the outputs, and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. The full run record (input
properties, every sample, checks, spans of a traced run) is kept under
perfbench/.out/. Exits non-zero if any output check fails.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# workload -> input generator of gen.py
WORKLOADS = {
    "pages_stream": "pages",
    "typed_sharded": "typed",
    "operator_mix": "mix",
}
# The operator_mix pass, in order: a dedup recall gate that builds the
# gt_pairs and minhash-pair memos and dumps its approximate side in an
# eager pre-job, and a Structured Streaming query. Why not the other
# listed queries: README.md, "Sizing".
MIX_QUERIES = ["dedup_minhash_recall", "xml_events_stream"]
# Per-layer metrics each workload measures. A traced run must emit
# exactly these; the rest of BENCHMARK.json's per_layer list names layers
# the workload does not have, and reports 0.
COMMON_LAYERS = {"rows_per_s", "mb_per_s", "jvm.heap_peak_mb", "trace.overhead_s",
                 "spark.task_s", "spark.gc_ms", "spark.shuffle_write_mb",
                 "spark.spill_mb", "spark.peak_exec_mb"}
EXPORT_LAYERS = {"Tables.scan_s", "Tables.input_mb", "DocId.self_s", "Render.self_s",
                 "MemMarkup.self_s", "MemMarkup.mem_rows", "XmlPipe.format_self_s",
                 "XmlPipe.doc_mb", "XmlPipe.sink_self_s", "XmlPipe.sink_jobs",
                 "XmlPipe.sink_core_util"}
QUERY_LAYERS = ("build_s", "action_s", "plan_ms", "prejobs", "barriers",
                "memo_builds", "shuffle_mb")
STREAMING = {"events_stream_dedup", "xml_events_stream"}
HEAP = "2g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def layer_names(workload):
    """The per-layer metric names a traced run of `workload` emits."""
    if workload == "pages_stream":
        return COMMON_LAYERS | EXPORT_LAYERS | {"XmlPipe.driver_fetch_mb_max"}
    if workload == "typed_sharded":
        return COMMON_LAYERS | EXPORT_LAYERS | {
            "Pipeline.join_s", "XmlPipe.shards", "DocsetSource.read_s",
            "XmlPipe.readDocset_s"}
    return COMMON_LAYERS | {
        f"{q}.{k}" for q in MIX_QUERIES
        for k in QUERY_LAYERS + (("batches", "batch_p50_ms") if q in STREAMING else ())}


def layer_values(workload, values, wanted):
    """Every per-layer metric of `wanted` from a traced run's `values`;
    ValueError if the run missed a layer the workload has or emitted a
    name it should not."""
    own = layer_names(workload)
    missing = sorted(n for n in own if values.get(n) is None)
    unexpected = sorted(set(values) - own)
    if missing or unexpected:
        raise ValueError(f"traced {workload} run: missing {missing}, unexpected {unexpected}")
    return {n: values[n] if n in own else 0.0 for n in wanted}


def run_jvm(cp, workload, inputs, work, seconds, trace, cores):
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    out = os.path.join(work, "result.json")
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", workload, "--in", inputs, "--work", work,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores), "--queries", ",".join(MIX_QUERIES),
            "--out", out]
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"JVM timed out after {JVM_TIMEOUT_S} s")
        finally:
            # a streaming query's scratch lands on tmpfs when the host
            # has one; it belongs to this run only
            shutil.rmtree(f"/dev/shm/graft-scratch/run-{proc.pid}",
                          ignore_errors=True)
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"JVM exited with {proc.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def e2e_metrics(rec):
    """The end-to-end metrics of an untraced run: medians over its timed
    operations, and the process's one cold set-up."""
    return {
        "setup_s": rec["setup_s"],
        "op_s": median([o["op_s"] for o in rec["ops"]]),
        "head_s": median([o["head_s"] for o in rec["ops"]]),
    }


def throughput(rec, props):
    """Rows and MB per second of operation, from the untraced operations
    (reciprocals of op_s with the workload's fixed volume)."""
    op_s = median([o["op_s"] for o in rec["ops"]])
    if not op_s:
        return {}
    rows = rec["source_rows"] or sum(
        props[t] for t in ("documents", "embeddings", "events"))
    out_bytes = rec["out_bytes"] or rec["input_bytes"]
    return {"rows_per_s": rows / op_s, "mb_per_s": out_bytes / 1e6 / op_s}


def _canon(df):
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _parity(con, sql, out):
    """(ok, detail) of one query's parquet output against its oracle."""
    import pandas as pd
    files = sorted(os.path.join(out, f) for f in os.listdir(out)
                   if f.endswith(".parquet")) if os.path.isdir(out) else []
    if not files:
        return False, "no output written"
    a = _canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
    try:
        b = _canon(con.execute(sql).df())
    except Exception as e:  # the oracle itself failing is a failed check
        return False, f"oracle error: {e}"[:300]
    if list(a.columns) != list(b.columns):
        return False, f"columns {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return False, f"rows {len(a)} vs {len(b)}"
    if not a.equals(b):
        i = (a != b).any(axis=1).idxmax()
        return False, f"row {i}: {a.loc[i].to_dict()} vs {b.loc[i].to_dict()}"[:300]
    return True, f"{len(a)} rows match DuckDB"


def oracle_checks(work, inputs):
    """DuckDB parity of every operator_mix query with an oracle twin,
    canonicalized like tools/compare_oracle.py: columns sorted by name,
    values stringified, rows sorted."""
    import duckdb
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(inputs, t + '.parquet')}')")
    checks = []
    for name, sql in oracle.items():
        t0 = time.monotonic()
        ok, detail = _parity(con, sql, os.path.join(work, "mix_out", name))
        checks.append({"name": f"oracle.{name}", "ok": ok, "detail": detail,
                       "seconds": time.monotonic() - t0})
    return checks


def bench_full_counts():
    """Published count()-action seconds per query from BENCH_FULL.json."""
    try:
        with open(os.path.join(ROOT, "BENCH_FULL.json")) as f:
            return json.load(f).get("queries", {})
    except (OSError, ValueError):
        return {}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = spec()
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    wanted = [m["name"] for m in (bench["per_layer"] if args.trace else bench["end_to_end"])]

    try:
        cp = build.build()
    except (RuntimeError, OSError) as e:
        sys.exit(f"build failed: {e}")

    kind = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    t0 = time.monotonic()
    props = gen.generate(kind, args.seed, inputs)
    gen_s = time.monotonic() - t0
    cores = min(4, os.cpu_count() or 1)
    try:
        rec = run_jvm(cp, args.workload, inputs, work, args.seconds,
                      args.trace, cores)
    except RuntimeError as e:
        sys.exit(f"run failed: {e}")
    checks = rec["checks"]
    if args.workload == "operator_mix":
        checks += oracle_checks(work, inputs)
    failed_checks = sum(not c["ok"] for c in checks)

    if args.trace:
        try:
            values = layer_values(args.workload, dict(
                rec["layers"], **throughput(rec, props),
                **{"jvm.heap_peak_mb": rec["heap_peak_mb"]}), wanted)
        except ValueError as e:
            sys.exit(str(e))
        published = bench_full_counts()
        for q, r in rec.get("extra", {}).get("count_vs_noop", {}).items():
            r["bench_full_s"] = published.get(q)
    else:
        values = e2e_metrics(rec)
    metrics = {n: {"value": values[n] if values[n] is not None else 0.0,
                   "unit": units[n]} for n in wanted}
    # an end-to-end metric is missing only when no operation succeeded
    correct = failed_checks == 0 and rec["failed"] == 0 and \
        all(values[n] is not None for n in wanted)
    result = {"correct": correct,
              "attempted": int(rec["attempted"]),
              "failed": int(rec["failed"]) + failed_checks,
              "metrics": metrics}

    outdir = os.path.join(HERE, ".out")
    os.makedirs(outdir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    rec.update(checks=checks, input_props=props, generate_s=gen_s,
               cores=cores, result=result)
    with open(os.path.join(outdir, stem + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    shutil.copy(os.path.join(work, "jvm.log"), os.path.join(outdir, stem + ".log"))
    spans = os.path.join(work, "spans.jsonl")
    if os.path.isfile(spans):
        shutil.copy(spans, os.path.join(outdir, stem + ".spans.jsonl"))
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED {c['name']}: {c['detail']}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
