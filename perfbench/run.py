"""Benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine from source when needed (`perfbench/build.py`), makes
the workload's inputs from the seed, and runs it in a fresh JVM on
`local[<cores>]`: set-up three times (a new session plus the first
pass), then a fixed number of closed-loop passes, about S seconds. Every result is checked;
the last stdout line is

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

with the end-to-end metrics when `--trace 0` and the per-layer metrics
(from a run that repeats its measured passes traced) when `--trace 1`. The line
before it holds the run's context: seed, cores, heap, input sizes,
the tail percentile used, the failure ratio. Spans of a traced run are
kept in `.bench_build/traces/`. Exits non-zero, after printing the
result, when any result is wrong.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["weather-csv", "lake-mixed"]
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java_cmd(classes, tmp, main_class, args):
    """A JVM on the built classes and the Spark jars, with every
    temporary file under `tmp`."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Dgraft.base.dir={ROOT}",
             "-cp", build.classpath(classes), main_class] + list(args))


def end_to_end(res, failed_ratio):
    """End-to-end metrics of an untraced run, plus their context."""
    passes = [p["secs"] for p in res["passes"] if p["phase"] == "measured"]
    ops = [o for o in res["ops"] if o["phase"] == "measured"]
    secs = sorted(o["secs"] for o in ops)
    n = len(secs)
    # the highest percentile with at least ten samples beyond it
    tail, tail_pct = (secs[n - 11], 100.0 * (n - 10) / n) if n > 10 else (secs[-1], 100.0)
    metrics = {
        "pass_s": (statistics.median(passes), "s"),
        # every operation weighs the same in a geometric mean, whatever its
        # size; the median of the lake's mix of fast reads and slow writes
        # falls in a sparse stretch between them and jumps from run to run
        "op_geomean_s": (statistics.geometric_mean(secs), "s"),
        # rows a pass takes in, over the median pass time
        "rows_per_s": (sum(o["rows"] for o in ops) / len(passes) / statistics.median(passes),
                       "1/s"),
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "peak_heap_mb": (res["heap_after_gc_mb"], "MB"),
    }
    # reported, not bounded: a run holds 8 weather operations and 69 lake
    # operations, too few for a tail that repeats, and the lake's median
    # jumps between the slowest reads and the fastest writes
    context = {"measured_passes": len(passes), "measured_ops": n,
               "op_p50_s": statistics.median(secs),
               "op_tail_s": tail, "op_tail_percentile": round(tail_pct, 2),
               "op_tail_samples_beyond": 10 if n > 10 else 0,
               "failed_ratio": failed_ratio,
               "setup_runs_s": res["setup_s"], "session_start_s": res["session_s"]}
    return metrics, context


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM (subprocess.run kills the child
    # on any exception) and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes = build.build()
    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(traces, exist_ok=True)
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work, "--out", os.path.join(work, "result.json"),
                "--spans", os.path.join(traces, f"{a.workload}-seed{a.seed}.jsonl")]
        tables = os.path.join(work, "tables")
        if a.workload == "lake-mixed":
            import gen_events
            args += ["--tables", tables, "--event-rows", str(gen_events.write(tables, a.seed))]
        cmd = java_cmd(classes, tmp, "perfbench.Main", args)
        log_path = os.path.join(work, "jvm.log")
        t0 = time.time()
        with open(log_path, "w") as log:
            try:
                r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                   timeout=JVM_TIMEOUT_S)
                code = r.returncode
            except subprocess.TimeoutExpired:
                code = "timeout"
        if code != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            raise SystemExit(f"perfbench: JVM exited with {code} after {time.time() - t0:.1f}s")
        results = os.path.join(build.BUILD, "results")
        os.makedirs(results, exist_ok=True)
        shutil.copy(os.path.join(work, "result.json"),
                    os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"))
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        with open(log_path) as f:
            for line in f:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)

        wrong = {}
        if os.path.exists(os.path.join(work, "oracle_sql.json")):
            import oracle
            with open(os.path.join(work, "oracle_sql.json")) as f:
                sqls = json.load(f)
            wrong = {k: v for k, v in oracle.compare(tables, os.path.join(work, "dumps"),
                                                     sqls).items() if v}
            for k, v in sorted(wrong.items()):
                sys.stderr.write(f"[perfbench] {k}: differs from DuckDB: {v}\n")
        attempted = len(res["ops"])
        failed = sum(1 for o in res["ops"] if o["err"] or o["name"] in wrong)
        failed_ratio = failed / attempted

        if a.trace:
            with open(os.path.join(HERE, "layers.json")) as f:
                units = {m["name"]: m["unit"] for m in json.load(f)["layers"]}
            metrics = {k: (v, units[k]) for k, v in res["trace"].items()}
            context = {"failed_ratio": failed_ratio,
                       "tracing_overhead_s": res["trace"]["trace.overhead_s"]}
        else:
            metrics, context = end_to_end(res, failed_ratio)
        context.update({"workload": a.workload, "seed": a.seed, "cores": res["cores"],
                        "calibration_s": res["calibration_s"], "cut_short": res["cut_short"],
                        "heap_max_mb": res["heap_max_mb"], "inputs": res["inputs"],
                        "extras": res["extras"], "run_wall_s": round(time.time() - t0, 2)})
        print(json.dumps({"context": context}))
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
        sys.stdout.flush()
        if failed:
            sys.stderr.write(f"perfbench: {failed} of {attempted} operations failed or were wrong\n")
            return 1
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
