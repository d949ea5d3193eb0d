"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and harness (perfbench/build.py), makes the inputs,
runs one JVM with one Spark session at a time (perfbench/scala), checks
the outputs, and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The line before it is a noise record (CPU steal share over the run and
an IO-free canary timing), which is not a metric.

Everything is written under $CARGO_TARGET_DIR (default .bench_build)
in the checkout: classes, inputs, outputs, Derby databases, the Spark
local directory and the oracle cache.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import gen_portal  # noqa: E402
import oracle  # noqa: E402

# Fixed input of the catalog workload: the repo's seed-42 sf0.01 test
# tables, kept in the benchmark's directory, so their DuckDB oracle
# results are computed once per checkout and cached.
TABLES = os.path.join(HERE, "data", "sf0.01")
PORTAL_SCALE = 0.1
TEXT_COPIES = 32  # CatalogWorkload.textCopies
JVM_TIMEOUT_S = 170
WORKLOADS = ("portal_etl", "catalog_sf001")
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def slots():
    return max(1, min(4, os.cpu_count() or 1))


def java(classes, work, args, timeout):
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Main"] + args
    with open(os.path.join(work, "jvm.log"), "w") as log:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work, timeout=timeout)
    if r.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"run: harness exited with code {r.returncode}")


def prepare():
    """Build, oracle SQL and oracle cache; each step skipped when done."""
    classes = build.build()
    root = build.build_dir()
    tables = TABLES
    sql_path = os.path.join(root, "oracle_sql.json")
    stamp = open(classes + ".stamp").read()
    if not (os.path.exists(sql_path) and open(sql_path + ".stamp").read() == stamp):
        work = os.path.join(root, "work", "oracle-sql")
        os.makedirs(work, exist_ok=True)
        java(classes, work, ["--oracle-sql", sql_path], 120)
        shutil.rmtree(work, ignore_errors=True)
        with open(sql_path + ".stamp", "w") as f:
            f.write(stamp)
    with open(sql_path) as f:
        sql = json.load(f)
    oracle.build_cache(tables, sql, os.path.join(root, "oracle-cache"), root)
    return classes, tables, sql


def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, sum(v)


def canary():
    """A fixed, IO-free CPU loop: its time moves only with the machine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 6364136223846793005 + i) & 0xFFFFFFFFFFFFFFFF
    return time.perf_counter() - t0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def untraced(rounds):
    return [r for r in rounds if not r["traced"]]


def op_sum(r, key):
    return sum(o[key] for o in r["ops"] if o["ok"])


def op_gmean(rounds):
    """Geometric mean over operations of each operation's median wall time
    (operations that succeeded in every round)."""
    names = [o["op"] for o in rounds[0]["ops"]]
    ok = [n for n in names if all(o["ok"] for r in rounds for o in r["ops"] if o["op"] == n)]
    per_op = [median([o["wall_s"] for r in rounds for o in r["ops"] if o["op"] == n]) for n in ok]
    return math.exp(statistics.fmean(math.log(max(t, 1e-9)) for t in per_op)) if per_op else 0.0


def end_to_end(res):
    rounds = untraced(res["rounds"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "round_cpu_s": (median([op_sum(r, "proc_cpu_s") for r in rounds]), "s"),
        "exec_cpu_s": (median([op_sum(r, "cpu_s") for r in rounds]), "s"),
        "shuffle_mb": (median([op_sum(r, "shuffle_mb") for r in rounds]), "MB"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
    }


def per_layer(res, workload, work, data, layer_names):
    spans = res["spans"]
    rounds = sorted({s["round"] for s in spans})
    slots_n = res["slots"]

    def per_round(pred, key="wall_s"):
        return median([sum(s[key] for s in spans if s["round"] == i and pred(s)) for i in rounds])

    def named(n, key="wall_s"):
        return per_round(lambda s: s["name"] == n, key)

    out = {}
    # session counters summed over the round's operation spans, so the
    # harness's own between-round GC is not counted
    ops = [[s for s in spans if s["round"] == i and s["name"].startswith("op.")] for i in rounds]
    for k in ("jobs", "stages", "tasks", "plan_s", "codegen_s", "gc_s"):
        out[f"session.{k}"] = median([sum(s[k] for s in r) for r in ops])
    walls = [sum(s["wall_s"] for s in r) for r in ops]
    out["session.slot_busy"] = median([sum(s["run_s"] for s in r) / (slots_n * w)
                                       for r, w in zip(ops, walls) if w])
    out["session.slot_base_s"] = median([slots_n * w for w in walls])
    for n in ("survey_csv", "site_csv", "xlsx", "tsv", "shapefile_read", "shapefile_write",
              "geojson_write", "jdbc_upsert", "jdbc_scan", "jdbc_overwrite"):
        out[f"io.{n}_s"] = named(f"io.{n}")
    files, size = 0, 0
    if workload == "portal_etl":
        for dirpath, _, fs in os.walk(os.path.join(work, "portal_out")):
            files += len(fs)
            size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in fs)
    out["io.files_written"] = files
    out["io.written_mb"] = size / 1e6
    traced = [r for r in res["rounds"] if r["traced"]]
    out["io.jdbc_statements"] = median([r.get("jdbc_statements", 0) for r in traced])
    scan_s = named("io.parquet_scan")
    scan_mb = sum(os.path.getsize(os.path.join(data, f"{t}.parquet")) for t in oracle.TABLES) / 1e6 \
        if workload != "portal_etl" else 0.0
    out["io.parquet_scan_mb_per_s"] = scan_mb / scan_s if scan_s else 0.0
    for n in ("identifiers", "eurosea", "users", "duplicates", "spatial_export", "fixtures",
              "obis", "eov_keywords"):
        out[f"jobs.{n}_s"] = named(f"jobs.{n}")
    out["functions.geo_s"] = named("functions.geo")
    out["functions.identifier_s"] = named("functions.identifier")
    text_mb = 0.0
    if workload != "portal_etl":
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        t = pq.read_table(os.path.join(data, "documents.parquet"), columns=["text"])
        text_mb = pc.sum(pc.binary_length(t["text"])).as_py() * TEXT_COPIES / 1e6
    for k in ("ws_tokens", "term_counts", "pair_counts", "shingle_hashes", "minhash_sig",
              "token_count", "lang_id", "builtin_split"):
        s = named(f"plans.{k}")
        out[f"plans.{k}_mb_per_s"] = text_mb / s if s else 0.0
    family = {o["op"]: o["family"] for r in res["rounds"] for o in r["ops"]}
    for n in layer_names:
        if n.startswith("operators.") and n not in out:
            parts = n.split(".")
            if parts[1] == "family":
                fam = parts[2][:-2]
                out[n] = per_round(lambda s, f=fam: s["name"].startswith("op.")
                                   and family.get(s["name"][3:]) == f)
            elif len(parts) == 3 and parts[2] in ("wall_s", "cpu_s", "shuffle_mb"):
                key = parts[2]
                op_span = named(f"op.{parts[1]}", key)
                out[n] = op_span if op_span else named(f"operators.{parts[1]}", key)
    # round wall time, from the traced run's untraced rounds
    plain = untraced(res["rounds"])
    base = median([op_sum(r, "wall_s") for r in plain])
    out["session.round_wall_s"] = base
    out["session.setup_wall_s"] = res["setup_wall_s"]
    out["session.op_gmean_s"] = op_gmean(plain)
    out["trace.overhead"] = median([op_sum(r, "wall_s") for r in traced]) / base - 1 if base else 0.0
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    classes, tables, sql = prepare()

    root = build.build_dir()
    work = os.path.join(root, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload == "portal_etl":
        data = os.path.join(work, "input")
        manifest = gen_portal.generate(a.seed, data, PORTAL_SCALE)
    else:
        data = tables
    steal0, total0 = proc_stat()
    canary0 = canary()
    budget = max(30, JVM_TIMEOUT_S - (time.monotonic() - started))
    java(classes, work, ["--workload", a.workload, "--data", data, "--work", work,
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--slots", str(slots()),
                         "--out", os.path.join(work, "result.json")], budget)
    canary1 = canary()
    steal1, total1 = proc_stat()
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    # ---- checks (outside every timing)
    ok_ops = sorted({o["op"] for r in res["rounds"] for o in r["ops"] if o["ok"]})
    if a.workload == "portal_etl":
        problems = checks.portal(work, manifest)
    else:
        verdict = oracle.check(tables, os.path.join(work, "outputs"), sql, ok_ops,
                               os.path.join(root, "oracle-cache"), work)
        problems = [f"{n}: {v}" for n, v in verdict.items() if v]
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)

    attempted = sum(len(r["ops"]) for r in res["rounds"])
    failed = sum(1 for r in res["rounds"] for o in r["ops"] if not o["ok"])
    if a.trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = per_layer(res, a.workload, work, data, names)
        metrics = {n: {"value": values.get(n, 0.0), "unit": units[n]} for n in names}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in end_to_end(res).items()}
    noise = {"steal_share": (steal1 - steal0) / max(1, total1 - total0),
             "canary_s": [canary0, canary1],
             "round_s": [op_sum(r, "wall_s") for r in untraced(res["rounds"])],
             "setup_s": res["setup_s"], "setup_wall_s": res["setup_wall_s"],
             "failures": res["failures"], "heap_samples": res["heap_samples"],
             "wall_s": time.monotonic() - started}
    print(json.dumps({"noise": noise}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
