"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload stream_pipeline --seed 1 --seconds 20 --trace 0

Builds graft and the benchmark if needed (perfbench/build.py), runs the
workload in one JVM with Spark `local[<cpus>]`, checks every output, prints
each metric by name with its unit, writes the full record to
.bench_build/results/, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

Exit status: 0 when every correctness check passed, 1 when a check failed
or the run did not finish, 2 when the build failed.
"""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
from benchlib import report  # noqa: E402

RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def fmt(v):
    return repr(float(v)) if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=report.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"graftbench: build failed: {e}", file=sys.stderr)
        return 2

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    runs = build.BUILD / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    raw_path = runs / f"{tag}.raw.json"
    log_path = runs / f"{tag}.log"
    raw_path.unlink(missing_ok=True)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}",
           "-cp", classpath, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--out", str(raw_path), "--work-dir", str(build.BUILD / "work" / a.workload),
           "--launch-ms", str(int(time.time() * 1000))]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=build.ROOT)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"graftbench: run exceeded {RUN_TIMEOUT_S} s; log in {log_path}", file=sys.stderr)
            return 1
    if not raw_path.is_file():
        print(f"graftbench: JVM exited {rc} without a result; log in {log_path}", file=sys.stderr)
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        return 1
    raw = json.loads(raw_path.read_text())

    failed_checks = [c for c in raw["checks"] if not c["ok"]]
    correct = rc == 0 and bool(raw["checks"]) and not failed_checks
    for c in failed_checks:
        print(f"CHECK FAILED: {c['name']}: {c['detail']}", file=sys.stderr)
    for e in raw["errors"]:
        print(f"operation failed: {e}", file=sys.stderr)

    e2e = report.end_to_end(raw)
    own = report.workload_metrics(raw)
    layers = report.per_layer(raw) if a.trace else {}
    shown = {**e2e, **own, **layers}
    for name, (value, unit) in shown.items():
        print(f"{name} {fmt(value)} {unit}")

    if a.trace:
        missing = [m for m in report.PER_LAYER if m not in layers]
        if missing:
            print(f"graftbench: traced run lacks {missing}", file=sys.stderr)
            return 1
        chosen = {m: layers[m] for m in report.PER_LAYER}
    else:
        chosen = {m: e2e[m] for m in report.END_TO_END}

    results = build.BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": raw["cpus"], "heap_max_mb": raw["heap_max_mb"],
        "spark_version": raw["spark_version"], "java_version": raw["java_version"],
        "git_commit": git_commit(), "source_id": build.source_id(),
        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "correct": correct, "attempted": raw["attempted"], "failed": raw["failed"],
        "checks": raw["checks"], "errors": raw["errors"], "setup_s": raw["setup_s"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
        "values": raw["values"],
        "spans_by_name": report.span_table(raw) if a.trace else {},
    }
    (results / f"{tag}.json").write_text(json.dumps(record, indent=1) + "\n")

    print(json.dumps({
        "correct": correct,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
