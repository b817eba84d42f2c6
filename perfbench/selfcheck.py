#!/usr/bin/env python3
"""Self-check of the benchmark, at small size with every output check on
(backfill loads 500 slots; the inventory tables are small already).

    python3 perfbench/selfcheck.py

For each workload it runs:
  1. an untraced run, which must be correct with zero failures and print
     exactly the end-to-end metrics named in BENCHMARK.json;
  2. a traced run that expects one row more than the oracle gives, which
     must come out incorrect with failures counted, and print exactly the
     per-layer metrics named in BENCHMARK.json.
Run 2 proves a wrong expected count is reported, not hidden. Exits 0 when
every check holds.
"""
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, trace: str, wrong: bool) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", trace, "--size", "tiny"]
    if wrong:
        cmd.append("--wrong-expected")
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"selfcheck: {' '.join(cmd[1:])} exited {r.returncode}")
    last = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last.keys()
    return last


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        ok = run(w, "0", wrong=False)
        if not ok["correct"] or ok["failed"] != 0:
            problems.append(f"{w}: expected a correct run, got {ok['failed']} failures")
        if set(ok["metrics"]) != e2e:
            problems.append(f"{w}: end-to-end metrics {sorted(ok['metrics'])} != {sorted(e2e)}")
        if any(not m["value"] > 0 for m in ok["metrics"].values()):
            problems.append(f"{w}: an end-to-end metric is not positive: {ok['metrics']}")
        bad = run(w, "1", wrong=True)
        if bad["correct"] or bad["failed"] == 0:
            problems.append(f"{w}: a wrong expected count was not reported as a failure")
        if set(bad["metrics"]) != layers:
            problems.append(f"{w}: per-layer metrics differ from BENCHMARK.json: "
                            f"{sorted(set(bad['metrics']) ^ layers)}")
        print(f"{w}: correct run {ok['attempted']} attempted / {ok['failed']} failed; "
              f"wrong-expectation run {bad['failed']} of {bad['attempted']} failed")
    for p in problems:
        print("SELFCHECK FAILED: " + p)
    print("selfcheck: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
