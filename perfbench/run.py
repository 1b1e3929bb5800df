"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload lakehouse_daily --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
harness (see build.py). The JVM writes a full result file with provenance,
every metric and every failure to .bench_work/results/; this script prints
the metrics BENCHMARK.json declares: its end_to_end metrics untraced, its
per_layer metrics traced. It exits non-zero, printing no result, when the
build or the run fails or a declared metric is missing.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import build

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ("lakehouse_daily", "analytics_sf001")
TIMEOUT_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def git_state():
    """(sha, dirty) of the checkout, or (None, None) outside a git repo."""
    if not (ROOT / ".git").exists():
        return None, None
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, check=True).stdout.strip()
        dirty = bool(subprocess.run(["git", "status", "--porcelain", "--untracked-files=no"],
                                    cwd=ROOT, capture_output=True, text=True,
                                    check=True).stdout.strip())
        return sha, dirty
    except (OSError, subprocess.CalledProcessError):
        return None, None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's small inputs")
    ap.add_argument("--write-expected", action="store_true",
                    help="analytics: store the run's result digests as the expectations")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    classes, tag, jars = build.build()

    name = f"{a.workload}-{a.size}"
    work = ROOT / ".bench_work" / name
    results = ROOT / ".bench_work" / "results"
    shutil.rmtree(work, ignore_errors=True)
    for d in (work / "tmp", work / "local", results):
        d.mkdir(parents=True, exist_ok=True)
    result = results / f"{name}-seed{a.seed}-trace{a.trace}.json"
    result.unlink(missing_ok=True)
    sha, dirty = git_state()
    prov = {"git_sha": sha, "git_dirty": dirty, "source_stamp": tag}
    data = BENCH / "data" / ("sf0.01" if a.size == "full" else "sf0.001")
    expected = BENCH / "expected" / f"{name}.json"

    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--size", a.size, "--work", str(work),
              "--result", str(result), "--data", str(data), "--expected", str(expected),
              "--provenance", json.dumps(prov)]
           + (["--write-expected", "1"] if a.write_expected else []))
    log = work / "jvm.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                                timeout=TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc == 0 and a.write_expected:
        print(f"perfbench: wrote {expected}", file=sys.stderr)
        return
    if rc != 0 or not result.is_file():
        tail = log.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"{a.workload} exited with {rc}; no result")

    r = json.loads(result.read_text())
    for f in r["failures"]:
        print(f"perfbench: failure: {f}", file=sys.stderr)
    for metric, m in {**r["metrics"], **r["layers"]}.items():
        print(f"perfbench: {metric} = {m['value']} {m['unit']}", file=sys.stderr)
    source = r["metrics"] if a.trace == 0 else r["layers"]
    declared = spec["end_to_end"] if a.trace == 0 else spec["per_layer"]
    metrics = {}
    for m in declared:
        got = source.get(m["name"])
        if got is None:
            fail(f"{a.workload} did not produce metric {m['name']}")
        if got["unit"] != m["unit"]:
            fail(f"{m['name']} has unit {got['unit']}, declared {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": got["unit"]}
    if a.trace == 1:
        untraced = results / f"{name}-seed{a.seed}-trace0.json"
        if untraced.is_file():
            u = json.loads(untraced.read_text())
            same = all(u["provenance"].get(k) == r["provenance"].get(k)
                       for k in ("input_fingerprint", "build", "nproc"))
            if same:
                r["trace_overhead_ratio"] = (r["layers"]["trace.run_s"]["value"]
                                             / u["metrics"]["run_s"]["value"] - 1)
                result.write_text(json.dumps(r, indent=1))
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
