"""Benchmark entry point.

    python3 perfbench/run.py --workload relational|corpus|stream --seed N \
        --seconds S --trace 0|1 [--full]

Builds the program and the benchmark (perfbench/build.py), generates the
seed's inputs (perfbench/gen.py), runs one JVM at local[4], checks the
outputs, and prints every metric as `name value unit` followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the JSON metrics are the end-to-end metrics, with --trace 1 the per-module
metrics of a traced run, whose spans (trace.jsonl), executed plans and
Spark log are kept under .bench_build/traces/<workload>-<seed>. --full
times the whole frozen query list instead of the per-run panel (a longer
run, outside the default time budget).
"""
import argparse
import contextlib
import io
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

DEADLINE_S = 170
# The program's own JVM settings (build.sbt: 8 GB heap, default tiered JIT),
# plus a fixed young generation so that peak RSS follows the program's live
# memory rather than the collector's sizing decisions.
JVM_OPTS = ["-Xms8g", "-Xmx8g", "-Xmn1g", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

BATCH_ADDITIVE = [
    "ops.build_s", "ops.build_jobs", "ops.pins", "ops.pin_mb", "plan.s", "driver.only_s",
    "exec.jobs", "exec.stages", "exec.tasks", "scan.tasks", "scan.empty_tasks", "scan.input_mb",
    "scan.task_s", "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
    "shuffle.exchanges", "task.run_s", "task.cpu_s", "task.gc_s", "spill.mb", "log.warn_lines",
    "jvm.gc_s"]


def quantile(xs, q):
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _betacf(a, b, x):
    """Continued fraction of the incomplete beta function (modified Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _betainc(a, b, x):
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log(1.0 - x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def hd_quantile(xs, q):
    """Harrell-Davis estimate of the q-quantile: a weighted mean of every
    order statistic. A batch run has a few executions of each of a few
    queries, and the plain order statistic jumps from one query's latency
    to another's between runs; this estimate moves smoothly."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return s[0]
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * s[i] for i in range(n))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def fixture_record(data_dir):
    import pyarrow.parquet as pq
    out = {}
    for p in sorted(Path(data_dir).glob("*.parquet")):
        md = pq.ParquetFile(p).metadata
        out[p.stem] = {"bytes": p.stat().st_size, "row_groups": md.num_row_groups, "rows": md.num_rows}
    return out


def oracle_failures(data_dir, results_dir, temp_dir):
    """Compares every dumped result with its DuckDB oracle, by the rules of
    tools/oracle_check.py (the repository's correctness gate)."""
    sys.path.insert(0, str(ROOT / "tools"))
    import duckdb
    import oracle_check
    connect = duckdb.connect

    def quiet_connect(*a, **k):
        con = connect(*a, **k)
        con.execute("SET enable_progress_bar = false")
        con.execute(f"SET temp_directory = '{temp_dir}'")
        return con

    oracle_check.duckdb.connect = quiet_connect
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        oracle_check.main(str(data_dir), str(results_dir))
    fails = []
    for line in buf.getvalue().splitlines():
        m = re.match(r"FAIL (\w+): (.*)", line)
        if m:
            fails.append({"op": m.group(1), "error": "oracle mismatch: " + m.group(2)[:300]})
    return fails


def batch_metrics(rec, spec):
    untraced = [e for e in rec["execs"] if not e["traced"]]
    lat = [e["latency_ms"] for e in untraced]
    walls = [p["wall_s"] for p in rec["passes"] if not p["traced"]]
    tail_q = spec["tail_quantile"]
    p50 = hd_quantile(lat, 0.5) if lat else 0.0
    tail = hd_quantile(lat, tail_q) if lat else 0.0
    e2e = {
        "latency_p50_ms": (p50, "ms"),
        "latency_tail_ms": (tail, "ms"),
        "throughput_per_s": (len(lat) / sum(walls) if walls else 0.0, "1/s"),
    }
    info = {
        "wall_s": (median(walls), "s"),
        "query_p50_s": (p50 / 1000.0, "s"),
        f"query_p{round(tail_q * 100)}_s": (tail / 1000.0, "s"),
        "query_samples": (len(lat), "count"),
        "timed_passes": (len(walls), "count"),
    }
    traced = [e for e in rec["execs"] if e["traced"]]
    layers = {k: 0.0 for k in BATCH_ADDITIVE}
    layers.update({"scan.useful_ratio": 0.0, "task.skew": 0.0})
    if traced:
        per_pass = {}
        for e in traced:
            per_pass.setdefault(e["pass"], []).append(e)
        sums = []
        for es in per_pass.values():
            s = {k: sum(e.get(k, 0.0) for e in es) for k in BATCH_ADDITIVE}
            s["scan.useful_ratio"] = (
                (s["scan.tasks"] - s["scan.empty_tasks"]) / s["scan.tasks"] if s["scan.tasks"] else 0.0)
            s["task.skew"] = median([e["task.skew"] for e in es])
            sums.append(s)
        layers = {k: median([s[k] for s in sums]) for k in sums[0]}
        by_name = {}
        for e in rec["execs"]:
            by_name.setdefault(e["name"], {}).setdefault(e["traced"], []).append(e["latency_ms"])
        diffs = [median(v[True]) - median(v[False]) for v in by_name.values() if True in v and False in v]
        layers["trace.overhead_ms"] = median(diffs)
    else:
        layers["trace.overhead_ms"] = 0.0
    return e2e, info, layers


def stream_metrics(rec, spec):
    phases = rec.get("phases", [])
    lat = [x for p in phases for x in p["untraced_ms"] + p["traced_ms"]]
    closed_rows = sum(p["closed_rows"] for p in phases)
    closed_s = sum(p["closed_s"] for p in phases)
    tail_q = spec["tail_quantile"]
    op_lat = [p["untraced_ms"] + p["traced_ms"] for p in phases if p["untraced_ms"] + p["traced_ms"]]
    e2e = {
        "latency_p50_ms": (median(lat), "ms"),
        # the pooled tail is set by a single micro-batch of the slowest
        # operator; the median over operators of each one's tail is steadier
        "latency_tail_ms": (median([quantile(x, tail_q) for x in op_lat]), "ms"),
        "throughput_per_s": (closed_rows / closed_s if closed_s else 0.0, "1/s"),
    }
    seal_s = rec.get("seal_s", 0.0)
    info = {
        "event_latency_p50_ms": (median(lat), "ms"),
        f"event_latency_p{round(tail_q * 100)}_ms": (quantile(lat, tail_q) if lat else 0.0, "ms"),
        "event_samples": (len(lat), "count"),
        "rows_per_s": (closed_rows / closed_s if closed_s else 0.0, "rows/s"),
        "seal_rows_per_s": (rec.get("seal_rows", 0) / seal_s if seal_s else 0.0, "rows/s"),
    }
    for p in phases:
        if p["untraced_ms"] + p["traced_ms"]:
            info[f"{p['op']}.latency_p50_ms"] = (median(p["untraced_ms"] + p["traced_ms"]), "ms")
            info[f"{p['op']}.latency_p{round(tail_q * 100)}_ms"] = (
                quantile(p["untraced_ms"] + p["traced_ms"], tail_q), "ms")
        if p["closed_s"]:
            info[f"{p['op']}.rows_per_s"] = (p["closed_rows"] / p["closed_s"], "rows/s")
    batches = [b for p in phases for b in p["batches"] if b["rows"] > 0]

    def dur(k):
        return median([b["durations"].get(k, 0) for b in batches])

    layers = {
        "stream.batches": len(batches),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.get_batch_ms": dur("getBatch"),
        "stream.plan_ms": dur("queryPlanning"),
        "stream.wal_ms": dur("walCommit"),
        "stream.commit_ms": dur("commitOffsets"),
        "state.rows": sum(p["batches"][-1]["state_rows"] for p in phases if p["batches"]),
        "state.mem_mb": sum(max(b["state_mem"] for b in p["batches"]) for p in phases if p["batches"]) / 1e6,
        "state.commit_ms": median([b["state_commit_ms"] for b in batches]),
        "watermark.dropped_rows": sum(b["dropped"] for p in phases for b in p["batches"]),
        "stream.backlog_rows": max([p["backlog"] for p in phases], default=0),
        "gen.late_ms": quantile([x for p in phases for x in p["gen_late_ms"]], 0.99) if phases else 0.0,
        "storage.ingest_files": rec.get("ingest_files", 0),
        "storage.ingest_mb": rec.get("ingest_mb", 0.0),
        "storage.seal_s": seal_s,
        "storage.seal_files_out": rec.get("seal_files_out", 0),
        "storage.follower_poll_s": rec.get("poll_s", 0.0),
        "jvm.gc_s": rec.get("gc_s", 0.0),
        "log.warn_lines": rec.get("warn_lines", 0),
    }
    un = [x for p in phases for x in p["untraced_ms"]]
    tr = [x for p in phases for x in p["traced_ms"]]
    layers["trace.overhead_ms"] = median(tr) - median(un) if un and tr else 0.0
    return e2e, info, layers


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--full", action="store_true", help="time the whole frozen list")
    args = ap.parse_args(argv)
    started = time.time()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    layer_names = [m["name"] for m in bench["per_layer"]]
    e2e_names = [m["name"] for m in bench["end_to_end"]]
    spec = json.loads((HERE / "workloads.json").read_text())[args.workload]
    built = time.time()
    classpath = build.build()
    build_s = time.time() - built  # a first run may compile; the deadline excludes it

    run_dir = build.build_dir() / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    data_dir = run_dir / "data"
    is_batch = args.workload != "stream"
    if is_batch:
        import gen
        gen.write(data_dir, args.seed)
        frozen = [n for group in spec["frozen"].values() for n in group]
        if not set(spec["panel"]) <= set(frozen):
            raise SystemExit("workloads.json: the panel must be drawn from the frozen list")
        ops = frozen if args.full else spec["panel"]
    else:
        ops = spec["ops"]
    cmd = (["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        f"-Dperfbench.log={run_dir / 'spark.log'}",
        "-cp", classpath, "graft.perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--data", str(data_dir), "--out", str(run_dir),
        "--ops", ",".join(ops)] +
        (["--frozen", ",".join(frozen)] if is_batch else []) +
        (["--rates", ",".join(f"{k}={v}" for k, v in spec["rates"].items())] if not is_batch else []))
    budget = None if args.full else max(10.0, DEADLINE_S + build_s - (time.time() - started))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"benchmark JVM exceeded {budget:.0f} s; run directory {run_dir}")
    if proc.returncode != 0 or not (run_dir / "record.json").exists():
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {proc.returncode}); run directory {run_dir}")
    rec = json.loads((run_dir / "record.json").read_text())
    jvm_end = time.time()

    failures = list(rec["failures"])
    attempted = rec["attempted"]
    if is_batch:
        oracle = oracle_failures(data_dir, run_dir / "results", run_dir / "tmp")
        failures += oracle
        e2e, info, layers = batch_metrics(rec, spec)
    else:
        e2e, info, layers = stream_metrics(rec, spec)
    e2e["setup_s"] = (rec["setup_s"], "s")
    e2e["peak_rss_mb"] = (rec["peak_rss_mb"], "MB")
    layers["jvm.heap_peak_mb"] = rec["heap_peak_mb"]
    failed = len(failures)

    ends = rec["phase_end_ms"]
    timeline = {"before_jvm_s": ends["jvm_start"] / 1000.0 - started}
    prev = ends["jvm_start"]
    for k, v in ends.items():
        if k != "jvm_start":
            timeline[f"{k}_s"] = (v - prev) / 1000.0
            prev = v
    timeline["jvm_exit_s"] = jvm_end - prev / 1000.0
    timeline["check_s"] = time.time() - jvm_end
    record = {
        "timeline": {k: round(v, 2) for k, v in timeline.items()},
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": rec["cores"], "java": rec["java_version"], "spark": rec["spark_version"],
        "jvm": JVM_OPTS[:4], "operations": len(ops), "fixtures": fixture_record(data_dir) if is_batch else {},
    }
    print("record " + json.dumps(record, sort_keys=True))
    for f in failures:
        print(f"FAILED {f['op']}: {f['error']}")
    for name, (value, unit) in list(e2e.items()) + list(info.items()):
        print(f"{name} {value:.6g} {unit}")
    print(f"error_rate {failed / max(1, attempted):.6g} ratio")
    units = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if args.trace:
        for name in layer_names:
            print(f"{name} {layers.get(name, 0.0):.6g} {units[name]}")
    if args.trace:
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in layer_names}
    else:
        metrics = {n: {"value": float(e2e[n][0]), "unit": e2e[n][1]} for n in e2e_names}
    if args.trace:
        traces = build.build_dir() / "traces" / f"{args.workload}-{args.seed}"
        shutil.rmtree(traces, ignore_errors=True)
        traces.mkdir(parents=True)
        for name in ("trace.jsonl", "record.json", "plans", "spark.log"):
            if (run_dir / name).exists():
                shutil.move(str(run_dir / name), str(traces / name))
        print(f"trace {traces}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": max(1, int(attempted)),
                      "failed": min(failed, max(1, int(attempted))), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
