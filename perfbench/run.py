#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload backfill|inventory \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program from source
(perfbench/build.py). Every file the run writes stays under perfbench/.work
and perfbench/.build. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics, with --trace 1 the per-layer metrics. The lines
before it are a readable report (run context, phases, layer table).
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import tables  # noqa: E402

WORKLOADS = ("backfill", "inventory")
DEADLINE_S = 175
# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# repository's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


EXPECTED = HERE / "inventory_expected.tsv"


def oracle_failures(data_dir: Path, out_dir: Path) -> list:
    """The sweep's outputs against the DuckDB oracle, through the
    repository's own compare tool. Each query not OK is a failure."""
    tool = ROOT / "tools" / "compare.py"
    r = subprocess.run([sys.executable, str(tool), str(data_dir), str(out_dir)],
                       capture_output=True, text=True, timeout=120)
    lines = [ln.strip() for ln in r.stdout.splitlines()]
    bad = [ln[3:] for ln in lines if ln.startswith("!!")]
    ok = [ln for ln in lines if ln.startswith(("OK", "ROWS_ONLY")) or ": OK" in ln]
    if r.returncode != 0 or not ok and not bad:
        bad.append(f"compare tool failed (code {r.returncode}): {r.stderr.strip()[-300:]}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="backfill: tiny loads 500 slots instead of 3000 (self-check)")
    ap.add_argument("--wrong-expected", action="store_true",
                    help="expect one row more than the oracle says (self-check)")
    ap.add_argument("--capture", action="store_true",
                    help="inventory: compare the outputs with the DuckDB oracle and, "
                         "if all agree, record their row counts and digests as expected")
    a = ap.parse_args()
    t_start = time.monotonic()

    try:
        cp = build.classpath()
    except SystemExit as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = HERE / ".work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (work / d).mkdir()
    jvm_args = []
    data = work / "tables"
    if a.workload == "inventory":
        tables.generate(data)
        jvm_args += ["--data", str(data)]
        if a.capture:
            jvm_args.append("--write-outputs")
        else:
            jvm_args += ["--expected", str(EXPECTED)]
    if a.wrong_expected:
        jvm_args.append("--wrong-expected")
    result_file = work / "result.json"
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    cmd = (["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dderby.system.home={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--size", a.size, "--work", str(work), "--out", str(result_file)]
           + jvm_args)
    log = work / "jvm.log"
    remaining = DEADLINE_S - (time.monotonic() - t_start)
    with open(log, "w") as lf:
        try:
            r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                               timeout=max(10.0, remaining))
            code = r.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not result_file.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        print(f"perfbench: benchmark JVM ended with {code}", file=sys.stderr)
        return 1
    res = json.loads(result_file.read_text())
    failures = list(res["failures"])
    attempted = res["attempted"]
    if a.workload == "inventory" and a.capture:
        out = work / "inventory" / "out"
        bad = oracle_failures(data, out)
        attempted += len(json.loads((out / "oracle_sql.json").read_text()))
        failures += [f"oracle: {b}" for b in bad]
        if not failures:
            rows = res["context"]["observed_in_setup"]
            EXPECTED.write_text(
                "".join(f"{q}\t{n}\t{d}\n" for q, (n, d) in sorted(rows.items())))
            print(f"captured {len(rows)} expected results to {EXPECTED.name}")

    ctx = res["context"]
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} "
          f"samples={res['samples']} latency_max_s={res['latency_max_s']} nproc={ctx['nproc']} "
          f"heap_max_mb={ctx['heap_max_mb']:.0f} conf={json.dumps(ctx['spark_conf'])}")
    print("context " + json.dumps(ctx, sort_keys=True))
    if res.get("phases_median_s"):
        print("phases_median_s " + json.dumps(res["phases_median_s"], sort_keys=True))
    if res.get("layers"):
        print("layers " + json.dumps(res["layers"], sort_keys=True))
    for name, m in sorted(res["metrics"].items()):
        print(f"  {name} = {m['value']} {m['unit']}")
    print(f"  failed_ops_share = {len(failures) / attempted} ({len(failures)}/{attempted})")
    for f in failures:
        print(f"  FAILED: {f}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
