#!/usr/bin/env python3
"""The repository benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload {bi_queries,table_dml}
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run in a checkout compiles the
library (src/main/scala) together with the benchmark's own Scala
(perfbench/scala) into .bench_build/ and writes the fixture tables there;
later runs reuse both. See perfbench/README.md for the workloads and the
metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

SCALE = 0.01
# Row counts of the seed-42 fixtures at SCALE: staging rows, rows kept by
# the clean step, and fact rows.
EXPECTED = {"staging": 60603, "cleaned": 56980, "fact": 56980}
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150
STEAL_WARN_PCT = 10.0
# Seed-derived query rounds and DML cycles handed to the JVM: more than
# any window runs.
ROUNDS = 60
CYCLES = 60
# Spark on JDK 17 outside spark-submit needs these (the list build.sbt
# passes to forked runs).
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    """BENCHMARK.json: the metric names and units the result line uses."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    return main, own


def build():
    """Compiles the library and the benchmark once per source state."""
    main, own = sources()
    h = hashlib.sha256()
    for p in main + own:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    log(f"compiling {len(main)} library and {len(own)} benchmark sources")
    cp = os.path.join(spark_jars(), "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}",
                    "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", tmp, "-classpath", cp] + main + own,
                   check=True, stdout=sys.stderr, timeout=800)
    os.rename(tmp, out)
    open(os.path.join(out, ".done"), "w").close()
    return out


def fixture_dir():
    d = os.path.join(BUILD, f"fixtures-sf{SCALE}")
    if not os.path.exists(os.path.join(d, ".done")):
        log(f"writing fixtures at sf{SCALE}")
        fixtures.write(d, SCALE)
        open(os.path.join(d, ".done"), "w").close()
    return d


def invoices(fx):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    keys = pc.unique(pq.read_table(os.path.join(fx, "lineitem.parquet"), columns=["l_orderkey"])
                     .column(0)).to_pylist()
    return [str(k) for k in sorted(keys)]


def cpu_times():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v[:8]), v[7]


def run_jvm(workload, seed, seconds, trace, classes, fx, work):
    cfg = {"workload": workload, "seconds": seconds, "trace": bool(trace),
           "fixtures": fx, "work": work}
    if workload == "bi_queries":
        cfg["queries"] = list(inputs.QUERIES)
        cfg["rounds"] = inputs.query_rounds(seed, ROUNDS)
    elif workload == "table_dml":
        cfg["merge_keys"] = list(inputs.MERGE_KEYS)
        cfg["compact_every"] = inputs.COMPACT_EVERY
        cfg["cycles"] = inputs.dml_cycles(seed, invoices(fx), CYCLES)
    cfg_path, out_path = os.path.join(work, "in.json"), os.path.join(work, "out.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # -XX:-UsePerfData: no JVM statistics file in the system temp
    # directory; the run writes only inside the checkout
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"]
           + [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                                      os.path.join(spark_jars(), "*")]),
              "perfbench.Main", cfg_path, out_path])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    env.pop("GRAFT_SCRATCH", None)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(l for l in f if not l.startswith(("\tat ", "\t\t"))))
        raise RuntimeError(f"benchmark JVM exited with {code}")
    with open(out_path) as f:
        return json.load(f)


def dir_stats(path):
    files = [p for p in glob.glob(os.path.join(path, "**", "*"), recursive=True) if os.path.isfile(p)]
    data = [p for p in files if p.endswith(".parquet")]
    return {"files": len(data), "bytes": sum(os.path.getsize(p) for p in files)}


def check(workload, raw, fx):
    """Counts wrong outputs as failed operations; returns the failures."""
    con = oracle.connect(fx)
    cache = oracle.OracleCache(os.path.join(BUILD, "oracle-cache.json"), f"sf{SCALE}")
    bad = []
    if workload == "bi_queries":
        want = cache.get(con, raw["fact_oracle"])
        for o in raw.get("etl_outputs", []):
            counts = o["counts"] or stage_counts(o["path"])
            got = oracle.fingerprint(con, oracle.parquet_sql(os.path.join(o["path"], "fact_sales"),
                                                             want["columns"], hive=True))
            counts["fact_written"] = got["rows"]
            ok = o["status"] == "SUCCESS" and got == want and all(
                counts.get(k) == v for k, v in EXPECTED.items()) and got["rows"] == EXPECTED["fact"]
            if not ok:
                bad.append(f"nightly etl: status {o['status']}, counts {counts}, "
                           f"fact matches oracle: {got == want}")
        rows = {}
        for q in raw["oracle"]:
            want = cache.get(con, q["sql"])
            got = oracle.fingerprint(con, oracle.parquet_sql(q["path"]))
            rows[q["name"]] = got["rows"]
            if got != want:
                bad.append(f"{q['name']}: first execution differs from the oracle")
        for s in raw["queries"]:
            if s["name"] in rows and s["rows"] != rows[s["name"]]:
                bad.append(f"{s['name']}: {s['rows']} rows, first execution had {rows.get(s['name'])}")
    con.close()
    return bad


def stage_counts(path):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(path, "meta", "stage_metrics")).to_pylist()
    by = {r["stage"]: r["rows_out"] for r in t}
    return {"staging": by.get("1_ingest"), "cleaned": by.get("2_clean"), "fact": by.get("3_transform")}


def baseline(classes, workload):
    """Where untraced runs of one build leave their end-to-end metrics, so
    that a traced run of the same build can report its overhead."""
    return os.path.join(BUILD, "results", f"{os.path.basename(classes)}-{workload}.jsonl")


def past_runs(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def layer_values(spec, workload, raw, e2e, out_stats, steal_pct, base):
    """Every per-layer metric of a traced run, including its own end-to-end
    values and their difference from the untraced runs' medians."""
    names = [m["name"] for m in spec["per_layer"]]
    vals = metrics.per_layer(workload, raw, names, inputs.QUERIES, out_stats)
    vals["host.steal_pct"] = steal_pct
    vals["overhead.baseline_runs"] = float(len(base))
    for k, v in e2e.items():
        vals[f"traced.{k}"] = v
        vals[f"overhead.{k}"] = v - metrics.median([b[k] for b in base]) if base else 0.0
    return {k: vals[k] for k in names}


def report(spec, trace, vals, attempted, failed):
    """The result line: every end-to-end metric, or with tracing every
    per-layer metric, by name with its unit."""
    group = spec["per_layer" if trace else "end_to_end"]
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in group}}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("bi_queries", "table_dml"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no library sources under src/main/scala: run from the repository root of a full checkout")
        return 2
    spec = benchmark_spec()
    os.makedirs(BUILD, exist_ok=True)
    classes = build()
    fx = fixture_dir()
    work = os.path.join(BUILD, "runs", f"{a.workload}-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    try:
        total0, steal0 = cpu_times()
        raw = run_jvm(a.workload, a.seed, a.seconds, a.trace, classes, fx, work)
        total1, steal1 = cpu_times()
        bad = check(a.workload, raw, fx)
        out_stats = [dir_stats(o["path"]) for o in raw.get("etl_outputs", [])]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in raw["errors"] + bad:
        log(f"failed: {e}")
    failed = raw["failed"] + len(bad)
    if raw["timed_builds"]:
        log(f"warning: {raw['timed_builds']} one-time build(s) ran inside the timed window")
    steal = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    log(f"host steal {steal:.1f}% over the run")
    if steal > STEAL_WARN_PCT:
        log("warning: hypervisor steal this high skews every time of this run; discard it")
    e2e = metrics.end_to_end(a.workload, raw)
    results = baseline(classes, a.workload)
    if a.trace:
        raw["failed"] = failed
        vals = layer_values(spec, a.workload, raw, e2e, out_stats, steal, past_runs(results))
    else:
        os.makedirs(os.path.dirname(results), exist_ok=True)
        with open(results, "a") as f:
            f.write(json.dumps(e2e) + "\n")
        vals = e2e
    result = report(spec, a.trace, vals, raw["attempted"], failed)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
