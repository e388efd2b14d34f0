"""graft's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload taxi_etl --seed 1 --seconds 20 --trace 0

Builds the engine from this checkout's sources (perfbench/build.py),
generates the seeded inputs, runs the workload in one JVM against an
in-process local[4] session, checks the outputs against DuckDB
(perfbench/check.py) and prints, as the last line of stdout, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones;
a traced run also writes its spans and per-request ledger under
<build dir>/perfbench/traces/. Exits non-zero when an output check
fails. Everything it writes stays under the build directory
(CARGO_TARGET_DIR, default .bench_build).
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("taxi_etl", "query_mix")
HEAP = "3g"
# The workload JVM gets --seconds plus this much for start-up, warm-up
# and, on traced runs, the layer probes.
JVM_ALLOWANCE_S = 140
# The tables are the same on every run; the run's seed chooses the
# request order, where the writes fall and the taxi trip ids.
TABLE_SEED = 42
# The per-workload names of the generic latency metrics.
ROLE_NAMES = {
    "taxi_etl": ("etl_faithful_s", "etl_weighted_s"),
    "query_mix": ("read", "write"),
}
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def percentile(xs, p):
    s = sorted(xs)
    r = p / 100 * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def run_jvm(classes, work, seconds, args):
    env = dict(os.environ,
               GRAFT_TAXI_DIR=os.path.join(work, "taxi"),
               GRAFT_JSONL_DIR=os.path.join(work, "jsonl"),
               GRAFT_ORC_DIR=os.path.join(work, "orc"),
               SPARK_DRIVER_MEM=HEAP,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", classes + os.pathsep + build.classpath(), "graftbench.Main"] + args +
           ["--spawn-ms", str(int(time.time() * 1000))])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    timeout = seconds + JVM_ALLOWANCE_S
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: workload JVM exceeded {timeout:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"perfbench: workload JVM exited {rc}")


def verify(workload, res, table_dir, work):
    """Names whose output failed its check, with the reason."""
    c = check.Checker(table_dir, os.path.join(work, "duckdb-tmp"))
    bad = {}
    oracle = res["oracle_sql"]
    if workload == "taxi_etl":
        for name, text in res["verified"].items():
            why = c.taxi(name, oracle[name], text) if text else "warm-up failed"
            if why:
                bad[name] = why
        for s in res["samples"]:
            if s["ok"]:
                why = c.taxi(s["name"], oracle[s["name"]], s["result"])
                if why:
                    bad[s["name"]] = why
    else:
        for name, path in res["verified"].items():
            why = c.parquet(name, path, oracle)
            if why:
                bad[name] = why
    return bad


def end_to_end(workload, res, bad):
    samples = res["samples"]
    timed = [s for s in samples if not s["traced"]]
    prim = [s["wall_s"] for s in timed if s["role"] == "primary"]
    sec = [s["wall_s"] for s in timed if s["role"] == "secondary"]
    metrics = reported("end_to_end", {
        "setup_s": res["setup_s"],
        "wall_s": res["wall_s"],
        "primary_p50_s": percentile(prim, 50),
        "primary_p90_s": percentile(prim, 90),
        "secondary_p50_s": percentile(sec, 50),
        "peak_rss_mb": res["peak_rss_mb"],
    })
    p, s2 = ROLE_NAMES[workload]
    if workload == "taxi_etl":
        aliases = [(p, "primary_p50_s", len(prim)), (s2, "secondary_p50_s", len(sec))]
    else:
        aliases = [(f"{p}_p50_s", "primary_p50_s", len(prim)),
                   (f"{p}_p90_s", "primary_p90_s", len(prim)),
                   (f"{s2}_p50_s", "secondary_p50_s", len(sec))]
    failed = sum(1 for s in samples if not s["ok"] or s["name"] in bad)
    failed += sum(1 for n, v in res["verified"].items() if not v or n in bad)
    attempted = len(samples) + len(res["verified"])
    print(f"{workload}: {res['passes']} passes, {len(timed)} untraced requests")
    for k, m in metrics.items():
        print(f"  {k:18s} {m['value']:12.4f} {m['unit']}")
    for alias, k, n in aliases:
        print(f"  {alias:18s} {metrics[k]['value']:12.4f} s  (= {k}, n={n})")
    print(f"  {'failed_frac':18s} {failed / attempted:12.4f} ratio  ({failed}/{attempted})")
    return attempted, failed, metrics


def declared(kind):
    """Name -> unit of the metrics BENCHMARK.json declares under `kind`."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def reported(kind, values):
    """`values` as the result's metrics: exactly the declared ones."""
    units = declared(kind)
    if set(units) != set(values):
        raise SystemExit(f"perfbench: {kind} metrics {sorted(set(units) ^ set(values))} "
                         "declared but not measured, or measured but not declared")
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def per_layer(res, trace_base):
    layers = res["layers"]
    ledger = res["ledger"]
    # input-byte audit: bytes the scans reported against the on-disk
    # size of each query's input files
    by_q = {}
    for row in ledger:
        by_q.setdefault(row["name"], []).append(row)
    audit = []
    for q, rows in sorted(by_q.items()):
        ib = statistics.mean(r["input.bytes"] for r in rows)
        fb = statistics.mean(r["input.file_bytes"] for r in rows)
        if fb > 0 and not (0.1 * fb <= ib <= 10 * fb):
            audit.append({"query": q, "input_bytes": ib, "file_bytes": fb})
    with open(trace_base + ".ledger.json", "w") as f:
        json.dump({"ledger": ledger, "layers": layers, "input_audit": audit}, f, indent=1)
    for a in audit:
        log(f"input-byte audit: {a['query']} read {a['input_bytes']:.0f} B "
            f"of {a['file_bytes']:.0f} B input files")
    metrics = reported("per_layer", layers)
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value']:16.6f} {m['unit']}")
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    t0 = time.time()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)
    log(f"build {time.time() - t0:.1f} s")
    base = os.path.join(build_dir, "perfbench")
    work = os.path.join(base, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    # the taxi job reads only its corpus, the layer probes read sf0.1 and
    # sf0.01
    if a.trace or a.workload == "query_mix":
        gen.generate(os.path.join(data, "sf0.1"), 0.1, TABLE_SEED)
    if a.trace:
        gen.generate(os.path.join(data, "sf0.01"), 0.01, TABLE_SEED)
    log(f"inputs {time.time() - t0:.1f} s")
    out = os.path.join(work, "result.json")
    trace_base = os.path.join(base, "traces", f"{a.workload}-{a.seed}")
    run_jvm(classes, work, a.seconds, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--data", data, "--out", out, "--spans", trace_base + ".spans.jsonl"])
    log(f"jvm {time.time() - t0:.1f} s")
    with open(out) as f:
        res = json.load(f)

    table_dir = None if a.workload == "taxi_etl" else os.path.join(data, "sf0.1")
    for s in res["samples"]:
        log(f"{s['name']:28s} {s['wall_s']:8.3f} s{'' if s['ok'] else '  FAILED'}")
    bad = verify(a.workload, res, table_dir, work)
    log(f"checks {time.time() - t0:.1f} s")
    for name, why in sorted(bad.items()):
        log(f"output check failed: {name}: {why}")
    attempted, failed, metrics = end_to_end(a.workload, res, bad)
    if a.trace:
        metrics = per_layer(res, trace_base)
    correct = failed == 0 and not bad
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
