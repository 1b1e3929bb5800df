"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Runs each workload on small inputs (sf0.001 tables for analytics_sf001,
two days of 3,000 events for lakehouse_daily), untraced and traced. Checks
that every run is correct with error_rate 0, that it reports every metric
the workload notes name, with its unit, that the traced run writes spans
and a tracing overhead, and that the benchmark refuses to run, printing
no result, in a directory that holds only BENCHMARK.json and perfbench/.
Exits 1 on the first failed check.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RESULTS = ROOT / ".bench_work" / "results"

SPARK = {
    "spark.analysis_s": "s", "spark.optimize_s": "s", "spark.planning_s": "s",
    "spark.driver_s": "s", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_run_s": "s", "spark.cpu_s": "s",
    "spark.gc_s": "s", "spark.scan_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
    "spark.peak_exec_mem_mb": "MB", "spark.exchanges": "count",
    "spark.broadcasts": "count", "spark.smj": "count", "spark.bhj": "count",
    "spark.core_idle_ratio": "ratio", "spark.stage_skew": "ratio",
    "table.scan_files_read": "count", "table.scan_files_total": "count",
    "trace.run_s": "s"}
E2E = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "cpu_s": "s",
       "error_rate": "ratio", "storage_peak_mb": "MB"}
EXPECT = {
    "lakehouse_daily": (
        {**E2E, "ingest_rows_per_s": "rows/s", "stream_rows_per_s": "rows/s",
         "space_amp": "ratio", "write_amp": "ratio"},
        {**SPARK, "pipeline.curate_commit_s": "s", "curate.rows_kept_ratio": "ratio",
         "table.open_s": "s", "table.mv_refresh_s": "s", "table.upsert_s": "s",
         "table.delete_s": "s", "table.checkpoint_s": "s", "table.compact_s": "s",
         "table.mv_cdf_rows": "count", "table.versions": "count",
         "table.files_live": "count", "table.dv_files": "count",
         "table.files_written": "count", "table.driver_s": "s", "table.jobs": "count",
         "streaming.batches": "count", "streaming.trigger_ms_p50": "ms",
         "streaming.latest_offset_ms": "ms", "streaming.get_batch_ms": "ms",
         "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
         "streaming.wal_commit_ms": "ms", "pipeline.self_s": "s", "table.self_s": "s",
         "streaming.self_s": "s", "spark.self_s": "s"}),
    "analytics_sf001": (
        {**E2E, "op_tail_s": "s"},
        {**SPARK, "materialize.pinned_build_s": "s", "materialize.pinned_mb": "MB",
         "materialize.leaked_rdds": "count", "rel.Joins_s": "s", "llm.Text_s": "s",
         "pipeline.PipelineQueries_s": "s", "rel.self_s": "s", "llm.self_s": "s",
         "spark.self_s": "s"}),
}


def check(ok, msg):
    if not ok:
        print(f"selftest FAILED: {msg}")
        sys.exit(1)


def run(cwd, *args):
    return subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def main():
    for w, (e2e, layers) in EXPECT.items():
        for trace in (0, 1):
            p = run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--size", "tiny")
            check(p.returncode == 0, f"{w} trace {trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
            line = json.loads(p.stdout.strip().splitlines()[-1])
            check(set(line) == {"correct", "attempted", "failed", "metrics"},
                  f"{w}: result keys {sorted(line)}")
            check(line["correct"] and line["failed"] == 0 and line["attempted"] >= 1,
                  f"{w} trace {trace}: {line}\n{p.stderr[-3000:]}")
            r = json.loads((RESULTS / f"{w}-tiny-seed7-trace{trace}.json").read_text())
            got = r["metrics"] if trace == 0 else r["layers"]
            for name, unit in (e2e if trace == 0 else layers).items():
                check(name in got, f"{w} trace {trace}: metric {name} missing")
                check(got[name]["unit"] == unit,
                      f"{w}: {name} has unit {got[name]['unit']}, expected {unit}")
            check(r["metrics"]["error_rate"]["value"] == 0, f"{w}: error_rate is not 0")
            for k in ("git_sha", "git_dirty", "source_stamp"):
                check(k in r["provenance"]["build"], f"{w}: provenance lacks {k}")
            for k in ("nproc", "jvm", "spark", "seed", "input_fingerprint"):
                check(k in r["provenance"], f"{w}: provenance lacks {k}")
            if trace == 1:
                spans = json.loads(Path(str(RESULTS / f"{w}-tiny-seed7-trace1.json")
                                        + ".trace.json").read_text())["spans"]
                check(len(spans) > 0, f"{w}: trace has no spans")
                check("trace_overhead_ratio" in r, f"{w}: no tracing overhead reported")
            print(f"selftest ok: {w} trace {trace}: {len(got)} metrics")

    # a directory holding only BENCHMARK.json and perfbench/ has nothing to build
    bare = ROOT / ".bench_work" / "selftest_bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(BENCH, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare, "--workload", "analytics_sf001", "--seed", "1", "--seconds", "1", "--trace", "0")
    check(p.returncode != 0 and not p.stdout.strip(),
          f"bare directory: exit {p.returncode}, stdout {p.stdout!r}")
    shutil.rmtree(bare)
    print("selftest ok: refuses to run without the engine sources")


if __name__ == "__main__":
    main()
