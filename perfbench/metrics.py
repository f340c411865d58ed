"""Statistics over one run's raw record: the end-to-end metrics of an
untraced run and the per-layer metrics of a traced one."""
import statistics

END_TO_END = ("setup_s", "p50_s", "ops_per_s")
PHASES = {"analysis": "catalyst.analyze_s", "optimization": "catalyst.optimize_s",
          "planning": "catalyst.plan_s"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (value, percentile, sample count); None when there are too few."""
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return xs[i], 100.0 * (i + 1) / n, n


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, end = 0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_time(span, spans):
    """A span's duration minus the part of it its children cover; children
    that overlap each other (the three dim builds) count once."""
    kids = [(s["start_us"], s["end_us"]) for s in spans if s["parent"] == span["id"]]
    return span["end_us"] - span["start_us"] - covered(kids, span["start_us"], span["end_us"])


def end_to_end(workload, raw):
    """setup_s; p50_s, the median latency of one operation of the window's
    closed loop (a query; a commit or a read); ops_per_s, the operations the
    window completed per second."""
    if workload == "bi_queries":
        lat = [q["s"] for q in raw["queries"]]
    else:
        lat = [s for v in raw["samples"].values() for s in v]
    return {"setup_s": raw["setup_s"], "p50_s": median(lat),
            "ops_per_s": raw["window_ops"] / raw["window_s"]}


class Trace:
    """Index over the spans and jobs of a traced run's timed window."""

    def __init__(self, raw, window=True):
        lo, hi = (raw["window_start_us"], raw["window_end_us"]) if window else (0, float("inf"))
        self.spans = [s for s in raw["spans"] if s["start_us"] >= lo and s["end_us"] <= hi]
        self.by_id = {s["id"]: s for s in raw["spans"]}
        self.jobs = [j for j in raw["jobs"] if lo <= j["start_ms"] * 1000 <= hi]
        self.qes = raw["qes"]

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def durations(self, name):
        return [(s["end_us"] - s["start_us"]) / 1e6 for s in self.named(name)]

    def under(self, span_id, job_span):
        """True when the span that submitted a job is `span_id` or inside it."""
        while job_span not in (-1, None):
            if job_span == span_id:
                return True
            job_span = self.by_id.get(job_span, {}).get("parent")
        return False

    def jobs_in(self, span):
        return [j for j in self.jobs if self.under(span["id"], j["span"])]


def etl_layers(raw, out_stats):
    """The nightly job's layers, from its one (cold) traced run in set-up."""
    t = Trace(raw, window=False)
    m = {"etl_s": raw.get("etl_s", 0.0)}
    for name, key in (("staging", "staging.s"), ("clean", "clean.s"), ("keys", "keys.dims_s"),
                      ("transform.fact", "transform.fact_s"), ("transform.write", "transform.write_s"),
                      ("pipeline.checks", "pipeline.checks_s"), ("pipeline.meta", "pipeline.meta_s")):
        m[key] = median(t.durations(name))
    m["staging.shuffle_mb"] = median(
        [sum(j["shuffle_write_bytes"] for j in t.jobs_in(s)) / 1e6 for s in t.named("staging")])
    m["keys.jobs"] = median([len(t.jobs_in(s)) for s in t.named("keys")])
    m["keys.self_s"] = median([self_time(s, t.spans) / 1e6 for s in t.named("keys")])
    counts = [o["counts"] for o in raw["etl_outputs"] if o["counts"].get("staging")]
    m["clean.kept_ratio"] = median([c["cleaned"] / c["staging"] for c in counts])
    m["transform.files_written"] = median([s["files"] for s in out_stats])
    m["transform.mb_written"] = median([s["bytes"] / 1e6 for s in out_stats])
    return m


def bi_layers(raw, t, query_names):
    m = {}
    kids = {}
    for s in t.spans:
        kids.setdefault(s["parent"], {})[s["name"]] = s
    # a query that threw while composing has no execute span
    queries = [s for s in t.spans if s["name"].startswith("query.")
               and "execute" in kids.get(s["id"], {})]
    phase = {v: [] for v in PHASES.values()}
    walls, gaps, njobs, compose = [], [], 0, []
    for q in queries:
        ex, co = kids[q["id"]]["execute"], kids[q["id"]]["sparkentry.compose"]
        compose.append((co["end_us"] - co["start_us"]) / 1e6)
        jobs = t.jobs_in(q)
        njobs += len(jobs)
        ivs = [(j["start_ms"] * 1000, j["end_ms"] * 1000) for j in jobs if j["end_ms"] > 0]
        wall = covered(ivs, ex["start_us"], ex["end_us"])
        walls.append(wall / 1e6)
        gaps.append((ex["end_us"] - ex["start_us"] - wall) / 1e6)
        for p, key in PHASES.items():
            phase[key].append(sum(
                (e[p][1] - e[p][0]) / 1000 for e in (qe["phases"] for qe in t.qes)
                if p in e and q["start_us"] <= e[p][0] * 1000 <= q["end_us"]))
    m["sparkentry.compose_s"] = median(compose)
    for key, xs in phase.items():
        m[key] = median(xs)
    m["spark.job_wall_s"] = median(walls)
    m["spark.driver_gap_s"] = median(gaps)
    n = max(1, len(queries))
    m["spark.jobs_per_query"] = njobs / n
    lo, hi = raw["window_start_us"], raw["window_end_us"]
    scans = [qe["cached_scans"] for qe in t.qes
             if any(lo <= ph[0] * 1000 <= hi for ph in qe["phases"].values())]
    m["warehouse.cached_scans_per_query"] = sum(scans) / n
    for name in query_names:
        m[f"query.{name}.p50_s"] = median([q["s"] for q in raw["queries"] if q["name"] == name])
    tl = tail([q["s"] for q in raw["queries"]])
    m["query.tail_s"], m["query.tail_pct"], m["query.samples"] = tl if tl else (0.0, 0.0, len(raw["queries"]))
    return m


def dml_layers(raw, t):
    s = raw["samples"]
    m = {f"manifests.{k}_s": median(s.get(k, [])) for k in ("append", "delete_mor", "merge_mor", "compact")}
    commits = [c for c in raw["commits"] if c["kind"] != "point"]
    writes = [c for c in commits if c["kind"] != "compact"]
    m["manifests.files_added_per_commit"] = (
        sum(c["files_added"] for c in commits) / len(commits) if commits else 0.0)
    m["manifests.dv_sidecars_live"] = median(raw["dv_sidecars_live"])
    changed = sum(c["rows_changed"] for c in writes)
    m["manifests.mb_written_per_row_changed"] = (
        sum(c["bytes_added"] for c in writes) / 1e6 / changed if changed else 0.0)
    m["manifest_read.point_s"] = median(s.get("point", []))
    m["manifest_read.scan_s"] = median(s.get("scan", []))
    points = t.named("manifest_read.point")
    returned = sum(c["rows"] for c in raw["commits"] if c["kind"] == "point")
    examined = sum(j["records_read"] for p in points for j in t.jobs_in(p))
    m["manifest_read.rows_examined_per_row"] = examined / returned if returned else 0.0
    m["write_p50_s"] = median([x for k, v in s.items() if k not in ("point", "scan") for x in v])
    m["read_p50_s"] = median(s.get("point", []) + s.get("scan", []))
    m["bytes_per_live_row"] = raw["table_bytes"] / raw["live_rows"] if raw["live_rows"] else 0.0
    return m


def common_layers(raw, t):
    ops = max(1, raw["window_ops"])
    jobs = t.jobs
    return {
        "spark.jobs": len(jobs) / ops,
        "spark.tasks": sum(j["tasks"] for j in jobs) / ops,
        "spark.task_s": sum(j["task_ms"] for j in jobs) / 1000 / ops,
        "spark.shuffle_write_mb": sum(j["shuffle_write_bytes"] for j in jobs) / 1e6 / ops,
        "spark.spill_mb": sum(j["spill_bytes"] for j in jobs) / 1e6 / ops,
        "jvm.gc_s": raw["gc_s"] / ops,
        "storage_mb": raw["storage_mb"],
        "error_rate": raw["failed"] / raw["attempted"] if raw["attempted"] else 0.0,
        "warehouse.timed_builds": raw["timed_builds"],
        "host.canary_s": raw["canary_s"],
        "cold_s": raw["cold_s"],
    }


def per_layer(workload, raw, names, query_names=(), out_stats=()):
    """Every per-layer metric in `names`; a layer the workload never calls
    reads 0."""
    t = Trace(raw)
    m = common_layers(raw, t)
    if workload == "bi_queries":
        m.update(etl_layers(raw, out_stats))
        m.update(bi_layers(raw, t, query_names))
    else:
        m.update(dml_layers(raw, t))
    return {n: float(m.get(n, 0.0)) for n in names}
