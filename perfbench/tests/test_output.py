import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402

SPEC = run.benchmark_spec()


def span(id_, name, parent, start, end):
    return {"id": id_, "name": name, "parent": parent, "start_us": start, "end_us": end}


def job(id_, span_id, start_ms, end_ms):
    return {"id": id_, "span": span_id, "start_ms": start_ms, "end_ms": end_ms, "tasks": 4,
            "task_ms": 30, "shuffle_write_bytes": 1000, "spill_bytes": 0, "records_read": 50}


def raw_record(workload):
    """A small raw record of the shape perfbench.Main writes."""
    r = {"setup_s": 5.0, "cold_s": 9.0, "window_start_us": 1_000_000, "window_end_us": 9_000_000,
         "window_s": 8.0, "window_ops": 2, "gc_s": 0.1, "storage_mb": 8.0, "timed_builds": 0,
         "canary_s": 0.2, "attempted": 3, "failed": 0, "errors": [], "qes": [],
         "spans": [], "jobs": []}
    if workload == "bi_queries":
        r["etl_s"] = 15.0
        r["etl_outputs"] = [{"path": "warehouse", "status": "SUCCESS",
                             "counts": {"staging": 100, "cleaned": 90, "fact": 90}}]
        r["queries"] = [{"name": n, "s": 0.5, "rows": 3} for n in ("q_checks", "q_sales_cube")]
        r["spans"] = [span(11, "etl.run", -1, 0, 900_000),
                      span(12, "staging", 11, 0, 300_000),
                      span(13, "keys", 11, 400_000, 800_000),
                      span(14, "keys.dim_date", 13, 500_000, 700_000),
                      span(1, "query.q_checks", -1, 1_000_000, 2_000_000),
                      span(2, "sparkentry.compose", 1, 1_000_000, 1_200_000),
                      span(3, "execute", 1, 1_200_000, 2_000_000),
                      span(4, "query.q_sales_cube", -1, 2_000_000, 3_000_000),
                      span(5, "sparkentry.compose", 4, 2_000_000, 2_100_000),
                      span(6, "execute", 4, 2_100_000, 3_000_000)]
        r["jobs"] = [job(1, 3, 1300, 1800), job(2, 6, 2200, 2900),
                     job(3, 12, 100, 200), job(4, 14, 550, 650)]
        r["qes"] = [{"phases": {"analysis": [1010, 1050], "optimization": [1210, 1220],
                                "planning": [1220, 1240]}, "cached_scans": 2}]
    else:
        r["samples"] = {"append": [0.3], "delete_mor": [0.8], "merge_mor": [1.2],
                        "point": [0.4, 0.4, 0.5], "scan": [0.5, 0.5, 0.6]}
        r["spans"] = [span(1, "manifest_read.point", -1, 2_000_000, 2_400_000)]
        r["jobs"] = [job(1, 1, 2100, 2300)]
        r["commits"] = [{"kind": "append", "files_added": 1, "bytes_added": 4000, "rows_changed": 20},
                        {"kind": "point", "rows": 5}]
        r["dv_sidecars_live"] = [2]
        r["table_bytes"] = 1_000_000
        r["live_rows"] = 50_000
    return r


class OutputTest(unittest.TestCase):
    def test_benchmark_file_names_the_end_to_end_metrics(self):
        self.assertEqual(tuple(m["name"] for m in SPEC["end_to_end"]), metrics.END_TO_END)

    def test_untraced_line_holds_every_end_to_end_metric_with_its_unit(self):
        for w in ("bi_queries", "table_dml"):
            e2e = metrics.end_to_end(w, raw_record(w))
            line = json.loads(json.dumps(run.report(SPEC, 0, e2e, 3, 0)))
            self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
            for m in SPEC["end_to_end"]:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
                self.assertGreater(line["metrics"][m["name"]]["value"], 0)

    def test_traced_line_holds_every_per_layer_metric_with_its_unit(self):
        for w in ("bi_queries", "table_dml"):
            raw = raw_record(w)
            e2e = metrics.end_to_end(w, raw)
            vals = run.layer_values(SPEC, w, raw, e2e, [{"files": 3, "bytes": 9000}], 1.5,
                                    [dict(e2e, p50_s=e2e["p50_s"] / 2)])
            line = json.loads(json.dumps(run.report(SPEC, 1, vals, 3, 0)))
            self.assertEqual(len(line["metrics"]), len(SPEC["per_layer"]))
            for m in SPEC["per_layer"]:
                self.assertEqual(line["metrics"][m["name"]]["unit"], m["unit"])
            self.assertAlmostEqual(line["metrics"]["overhead.p50_s"]["value"], e2e["p50_s"] / 2)
            self.assertEqual(line["metrics"]["host.steal_pct"]["value"], 1.5)

    def test_layer_attribution(self):
        raw = raw_record("bi_queries")
        vals = run.layer_values(SPEC, "bi_queries", raw, metrics.end_to_end("bi_queries", raw),
                                [{"files": 3, "bytes": 9000}], 0.0, [])
        self.assertEqual(vals["keys.jobs"], 1)
        self.assertAlmostEqual(vals["keys.self_s"], 0.2)
        self.assertAlmostEqual(vals["staging.shuffle_mb"], 0.001)
        self.assertAlmostEqual(vals["clean.kept_ratio"], 0.9)
        self.assertAlmostEqual(vals["spark.driver_gap_s"], 0.25)
        self.assertAlmostEqual(vals["catalyst.analyze_s"], 0.02)
        self.assertEqual(vals["spark.jobs_per_query"], 1)
        # the set-up's jobs stay out of the window's per-operation counts
        self.assertEqual(vals["spark.jobs"], 1)

    def test_incomplete_directory_exits_nonzero_without_a_result(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), d)
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "bi_queries",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
