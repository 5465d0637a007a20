"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

- The weather generator's expected Job1/Job2 answers equal what DuckDB
  computes from the generated CSVs, edges included.
- The lake workload's model agrees with `SnapshotLake` on a short op
  stream: every version's row count and key sum, and every read.
- The gate's DuckDB oracle comparison accepts an equal result and
  rejects a changed one.
- The end-to-end metric rules: tail percentile, medians, geometric mean.
- BENCHMARK.json's per-layer metrics are exactly those of `layers.json`.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_events  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class WeatherGeneratorTest(unittest.TestCase):
    def test_expected_totals_match_duckdb(self):
        import duckdb
        classes = build.build()
        work = tempfile.mkdtemp(dir=build.BUILD)
        try:
            tmp = os.path.join(work, "tmp")
            os.makedirs(tmp)
            subprocess.run(run.java_cmd(classes, tmp, "perfbench.GenWeather",
                                        [work, "7", "20000"]), check=True)
            with open(os.path.join(work, "expected.json")) as f:
                exp = json.load(f)

            def lines(path):
                # the engine's tokenizing: trim, drop blanks and headers,
                # split keeping trailing empty fields
                return f"""(SELECT str_split(trim(line), ',') AS p FROM read_csv('{path}',
                    delim='|', header=false, quote='', escape='',
                    columns={{'line': 'VARCHAR'}})
                    WHERE trim(line) <> '' AND NOT starts_with(trim(line), 'location_id'))"""
            con = duckdb.connect()
            q1 = con.execute(f"""
                WITH w AS (SELECT p[1] AS lid, p[2] AS dt, try_cast(p[6] AS DOUBLE) AS temp,
                                  try_cast(p[14] AS DOUBLE) AS precip
                           FROM {lines(exp['csv'])} WHERE len(p) >= 14),
                     loc AS (SELECT try_cast(p[1] AS INTEGER) AS id, p[8] AS city
                             FROM {lines(exp['location_csv'])} WHERE len(p) = 8)
                SELECT city, strftime(try_strptime(dt, '%-m/%-d/%Y'), '%Y-%m'),
                       sum(coalesce(precip, 0.0)), avg(coalesce(temp, 0.0))
                FROM w JOIN loc ON try_cast(w.lid AS INTEGER) = loc.id
                WHERE lid <> '' AND dt <> ''
                GROUP BY 1, 2 ORDER BY 1, 2""").fetchall()
            self.assertEqual([tuple(r) for r in exp["q1"]], q1)
            q2 = con.execute(f"""
                WITH w AS (SELECT str_split(p[2], '/') AS d, try_cast(p[14] AS DOUBLE) AS precip
                           FROM {lines(exp['csv'])} WHERE len(p) >= 14)
                SELECT d[3] || '-' || lpad(d[1], 2, '0') AS ym, sum(precip) AS total
                FROM w WHERE precip IS NOT NULL AND len(d) = 3
                GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 2""").fetchall()
            # the planted tie: the two top months are equal, the earlier wins
            self.assertEqual(q2[0][1], q2[1][1])
            self.assertEqual(tuple(exp["q2"]), q2[0])
        finally:
            shutil.rmtree(work, ignore_errors=True)


class LakeModelTest(unittest.TestCase):
    def test_model_agrees_with_snapshot_lake(self):
        classes = build.build()
        work = tempfile.mkdtemp(dir=build.BUILD)
        try:
            tmp = os.path.join(work, "tmp")
            os.makedirs(tmp)
            tables = os.path.join(work, "tables")
            rows = gen_events.write(tables, 5)
            out = os.path.join(work, "result.json")
            subprocess.run(run.java_cmd(
                classes, tmp, "perfbench.Main",
                ["--workload", "lake-mixed", "--seed", "5", "--seconds", "0", "--trace", "0",
                 "--work", work, "--out", out, "--tables", tables,
                 "--event-rows", str(rows)]), check=True)
            with open(out) as f:
                res = json.load(f)
            writes = [o for o in res["ops"] if o["kind"] == "write"]
            reads = [o for o in res["ops"] if o["kind"] == "read"]
            # three set-ups and three measured passes of 11 writes and 11 reads
            self.assertEqual(66, len(writes))
            self.assertEqual(66, len(reads))
            self.assertEqual([], [o for o in res["ops"] if o["err"]])
        finally:
            shutil.rmtree(work, ignore_errors=True)


class OracleCompareTest(unittest.TestCase):
    def test_equal_and_changed_results(self):
        import pandas as pd
        os.makedirs(build.BUILD, exist_ok=True)
        work = tempfile.mkdtemp(dir=build.BUILD)
        try:
            tables = os.path.join(work, "tables")
            gen_events.write(tables, 3)
            sql = "SELECT event_id, user_id, value FROM events ORDER BY 1"
            for name, value in [("same", None), ("changed", 1.5)]:
                d = os.path.join(work, "dumps", name)
                os.makedirs(d)
                df = pd.read_parquet(os.path.join(tables, "events.parquet"))
                df = df[["value", "event_id", "user_id"]]
                if value:
                    df.loc[0, "value"] = value
                df.to_parquet(os.path.join(d, "part-0.parquet"), index=False)
            got = oracle.compare(tables, os.path.join(work, "dumps"),
                                 {"same": sql, "changed": sql})
            self.assertIsNone(got["same"])
            self.assertIn("differ", got["changed"])
        finally:
            shutil.rmtree(work, ignore_errors=True)


class BenchmarkFileTest(unittest.TestCase):
    def test_per_layer_metrics_are_the_layer_map(self):
        with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        with open(os.path.join(HERE, "layers.json")) as f:
            layers = json.load(f)["layers"]
        self.assertEqual([{k: m[k] for k in ("name", "unit", "better")} for m in layers],
                         bench["per_layer"])
        names = {w["name"] for w in bench["workloads"]}
        for m in layers:
            self.assertTrue({x["workload"] for x in m["moves"]} <= names, m["name"])
            self.assertIn(m["flat_on"], names | {None}, m["name"])


class MetricRulesTest(unittest.TestCase):
    def res(self, secs):
        return {"passes": [{"phase": "setup", "secs": 9.0}, {"phase": "measured", "secs": sum(secs)}],
                "ops": [{"phase": "measured", "secs": s, "rows": 10} for s in secs],
                "setup_s": [3.0, 1.0, 2.0], "session_s": [1.0], "heap_after_gc_mb": 7.0}

    def test_tail_has_ten_samples_beyond(self):
        m, ctx = run.end_to_end(self.res([float(i) for i in range(1, 41)]), 0.0)
        self.assertEqual(30.0, ctx["op_tail_s"])
        self.assertEqual(75.0, ctx["op_tail_percentile"])
        self.assertEqual(10, ctx["op_tail_samples_beyond"])
        self.assertEqual(2.0, m["setup_s"][0])
        self.assertEqual(7.0, m["peak_heap_mb"][0])
        self.assertEqual(20.5, ctx["op_p50_s"])

    def test_operation_metric_is_the_geometric_mean(self):
        m, _ = run.end_to_end(self.res([1.0, 2.0, 4.0]), 0.0)
        self.assertAlmostEqual(2.0, m["op_geomean_s"][0])

    def test_few_samples_report_the_maximum(self):
        m, ctx = run.end_to_end(self.res([1.0, 2.0, 4.0]), 0.0)
        self.assertEqual(4.0, ctx["op_tail_s"])
        self.assertEqual(100.0, ctx["op_tail_percentile"])
        self.assertEqual(0, ctx["op_tail_samples_beyond"])


if __name__ == "__main__":
    unittest.main()
