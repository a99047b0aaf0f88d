"""Benchmark of the graft engine: one command builds the engine, generates
the seeded inputs, runs one workload in one JVM on local[nproc], checks the
outputs and prints every metric with its unit and sample count. The last
line of standard output is the result JSON.

    python3 perfbench/run.py --workload detect_batch --seed 1 --seconds 10 --trace 0

`--trace 1` adds a traced half to the measured window and reports the
per-layer metrics; `--corrupt 1` damages one output value before the
checks (the self-test: the run must then report it as wrong).
"""
import sys

sys.dont_write_bytecode = True

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("detect_batch", "pipeline_scaled", "detect_stream")
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def tail(xs):
    """The highest percentile with at least ten samples beyond it, and that
    percentile. Below 100 samples that percentile would sit under p90, so
    the maximum is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n < 100:
        return s[-1], 100.0
    return s[n - 11], round(100.0 * (n - 10) / n, 3)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs: a busy neighbour on a shared
    host shows up as steal."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(classes, run_dir, workload, inputs, seconds, trace, corrupt):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Xms3g", "-Xmx3g", "-XX:MaxNewSize=512m", f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
              f"-Dderby.system.home={tmp}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes, jars]), "graftbench.Main",
              "--workload", workload, "--input", inputs,
              "--out", os.path.join(run_dir, "out"),
              "--seconds", str(seconds), "--trace", str(trace),
              "--corrupt", str(corrupt)])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    res = os.path.join(run_dir, "out", "result.json")
    if code != 0 or not os.path.isfile(res):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed ({code}); log: {log}")
    with open(res) as f:
        return json.load(f)


def oracle_check(out_dir, inputs, corrupt):
    """Each pipeline entry's last-pass output against its DuckDB oracle,
    with the compare rule of tools/oracle_check.py: columns sorted by
    name, declared types equal, rows sorted, values exactly equal (NaN
    equal to NaN). Returns (entries checked, list of failures)."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET TimeZone = 'UTC'")
    for f in os.listdir(inputs):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(inputs, f)}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for i, (name, sql) in enumerate(sorted(oracle.items())):
        try:
            spark_rel = con.sql(
                f"SELECT * FROM '{os.path.join(out_dir, 'pass', name)}/*.parquet'")
            cols = sorted(spark_rel.columns)
            spark = con.sql(f"SELECT {', '.join(cols)} FROM spark_rel "
                            "ORDER BY ALL").fetchall()
            duck_rel = con.sql(sql)
            dcols = sorted(duck_rel.columns)
            duck = con.sql(f"SELECT {', '.join(dcols)} FROM duck_rel "
                           "ORDER BY ALL").fetchall()
        except Exception as e:  # an unreadable output is a wrong output
            fails.append(f"{name}: {e}")
            continue
        if corrupt and i == 0 and spark:
            row = list(spark[0])
            row[-1] = (row[-1] + 1) if isinstance(row[-1], (int, float)) else None
            spark[0] = tuple(row)
        if cols != dcols:
            fails.append(f"{name}: columns {cols} vs {dcols}")
            continue
        st = sorted(zip(spark_rel.columns, map(str, spark_rel.types)))
        dt = sorted(zip(duck_rel.columns, map(str, duck_rel.types)))
        if st != dt:
            fails.append(f"{name}: types {st} vs {dt}")
            continue
        if len(spark) != len(duck):
            fails.append(f"{name}: rows {len(spark)} vs {len(duck)}")
            continue
        for a, b in zip(spark, duck):
            if any(not (x == y or (isinstance(x, float) and isinstance(y, float)
                                   and math.isnan(x) and math.isnan(y)))
                   for x, y in zip(a, b)):
                fails.append(f"{name}: row {a} vs {b}")
                break
    return len(oracle), fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = build.build(build_dir)
    inputs, props, gen_s = gen.ensure_inputs(
        os.path.join(build_dir, "inputs"), a.workload, a.seed)
    runs = os.path.join(build_dir, "runs")
    os.makedirs(runs, exist_ok=True)
    for d in os.listdir(runs):  # one run's outputs are kept, the last
        shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(run_dir)

    steal0, total0 = cpu_ticks()
    r = run_jvm(classes, run_dir, a.workload, inputs, a.seconds, a.trace, a.corrupt)
    steal1, total1 = cpu_ticks()
    attempted, failed = r["attempted"], r["failed"]
    notes = [r["check"]]
    if a.workload == "pipeline_scaled":
        n, fails = oracle_check(os.path.join(run_dir, "out"), inputs, a.corrupt)
        notes.append(f"oracle: {n - len(fails)}/{n} entries equal"
                     + ("".join("\n  FAIL " + x[:300] for x in fails)))
        failed += 1 if fails else 0  # the checked pass is wrong
    props = dict(props, **r.get("props", {}))
    lat = r["latencies_s"]
    lat_tail, tail_pct = tail(lat)
    unit = "event" if a.workload == "detect_stream" else "pass"
    e2e = {
        "setup_s": (statistics.median(r["setup_s"]), "s", len(r["setup_s"])),
        "peak_rss_mb": (r["rss_hwm_mb"], "MB", 1),
        "latency_s_p50": (statistics.median(lat), "s", len(lat)),
        "latency_s_tail": (lat_tail, "s", len(lat)),
    }
    info = {
        "error_frac": (failed / max(1, attempted), "ratio", attempted),
        "bench.input_gen_s": (gen_s, "s", 1),
        "bench.first_setup_s": (r["setup_s"][0], "s", 1),
        "bench.cpu_steal_frac": ((steal1 - steal0) / max(1, total1 - total0), "ratio", 1),
    }
    extra = r.get("extra", {})
    if unit == "pass":
        info["pass_s_p50"] = (statistics.median(lat), "s", len(lat))
    else:
        bl = extra.get("batch_latencies_s") or [0.0]
        info["batch_latency_s_p50"] = (statistics.median(bl), "s", len(bl))
        info["batch_latency_s_max"] = (max(bl), "s", len(bl))
        info["backlog_s"] = (extra["backlog_s"], "s", 1)
        info["bench.generator_late_s"] = (extra["generator_late_s"], "s", 1)
        info["bench.rate_per_s"] = (extra["rate_per_s"], "1/s", 1)

    layer = {}
    if a.trace:
        layer = dict(r["layer"])
        plain = r["untraced_latencies_s"]
        p_tail, _ = tail(plain)
        layer["bench.trace_overhead.setup_s"] = (
            r["traced_setup_s"] / statistics.median(r["setup_s"][1:]) - 1)
        layer["bench.trace_overhead.latency_s_p50"] = (
            statistics.median(lat) / statistics.median(plain) - 1)
        layer["bench.trace_overhead.latency_s_tail"] = lat_tail / p_tail - 1
        layer["bench.input_gen_s"] = gen_s

    print(f"# workload {a.workload} seed {a.seed} seconds {a.seconds} "
          f"trace {a.trace} cores {r['cores']} (1 unit of latency = 1 {unit}; "
          f"tail = p{tail_pct})")
    print("# inputs " + json.dumps(props, sort_keys=True))
    for note in notes:
        print("# check " + note)
    print(f"# {'metric':40s} {'value':>14s} {'unit':>6s} {'samples':>8s}")
    for k, (v, u, n) in list(e2e.items()) + list(info.items()):
        print(f"  {k:40s} {v:14.6g} {u:>6s} {n:8d}")
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    if a.trace:
        samples = len(lat)
        for k in sorted(set(layer) | set(units)):
            print(f"  {k:40s} {layer.get(k, 0.0):14.6g} "
                  f"{units.get(k, '-'):>6s} {samples:8d}")
    if a.trace:
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]][0]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
