#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 benchmark/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Workloads: pipeline, suite (see README.md).
The first run builds the program from source (benchmark/build.py). Each
run starts one JVM in a fresh directory under .bench_run/, which is
removed at exit; the full result (every metric with unit and per-pass
samples, provenance, spans) is written to .bench_out/ and the last line
of standard output is the summary:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json for --trace 0 and its
per-layer metrics for --trace 1. The exit code is non-zero when any
output check fails.

--smoke runs every workload once at sf0.001 (see test_smoke.py).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["pipeline", "suite"]
DEFAULT_SEED = 1
CHECK_SEED = 20261017  # a second seed, for checking a claim on unseen inputs
TESTDATA = Path.home() / "testdata"  # the fixture tables of TESTDATA.md
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cpu_times():
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def git_commit(root: Path):
    """HEAD of the checkout, or None outside a git checkout (the source
    digest identifies the tree then)."""
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def spec_metrics(root: Path, trace: int) -> list:
    spec = json.loads((root / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(classes: Path, run_dir: Path, argv: list, log_path: Path) -> int:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # peak RSS swung by up to 40% between runs with G1 (humongous buffers
    # expanding the old generation) and per-thread malloc arenas; the
    # parallel collector with a fixed young generation and two arenas
    # keep it within a few percent
    cmd = (["java", "-Xmx3g", "-Xmn512m", "-XX:+UseParallelGC", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.callstack.depth=200"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "graftbench.Main"] + argv)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                                start_new_session=True)
        try:
            return proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[bench] run exceeded {RUN_TIMEOUT_S} s, killed", file=sys.stderr)
            return 124
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001, one pass")
    ap.add_argument("--data", help="table directory (default: sf0.1, sf0.001 with --smoke)")
    ap.add_argument("--out", help="result file (default: .bench_out/<workload>-...json)")
    ap.add_argument("--record", action="store_true",
                    help="skip the suites' row-count check and keep the counts")
    args = ap.parse_args()

    root = build.ROOT
    data = Path(args.data) if args.data else TESTDATA / ("sf0.001" if args.smoke else "sf0.1")
    if not (root / "src" / "main" / "scala").is_dir():
        print(f"[bench] no program sources under {root}", file=sys.stderr)
        return 2
    if not (data / "customer.parquet").exists():
        print(f"[bench] no test data at {data}", file=sys.stderr)
        return 2
    classes = build.build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-smoke' if args.smoke else ''}"
    out = Path(args.out) if args.out else root / ".bench_out" / f"{tag}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    run_dir = root / ".bench_run" / f"{tag}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    jvm_out = run_dir / "result.json"
    log_path = run_dir / "jvm.log"
    try:
        argv = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--smoke", "1" if args.smoke else "0", "--data", str(data.resolve()),
                "--run-dir", str(run_dir), "--out", str(jvm_out),
                "--expected", str(build.BENCH / "expected_rows.tsv"),
                "--record", "1" if args.record else "0"]
        steal0, total0 = cpu_times()
        code = run_jvm(classes, run_dir, argv, log_path)
        steal1, total1 = cpu_times()
        log_text = log_path.read_text(errors="replace")
        if code != 0 or not jvm_out.exists():
            sys.stderr.write(log_text[-6000:])
            print(f"[bench] JVM exited with {code}", file=sys.stderr)
            return code or 1
        result = json.loads(jvm_out.read_text())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = result["metrics"]
    steal = (steal1 - steal0) / max(total1 - total0, 1)
    if args.trace:
        errors = sum(1 for line in log_text.splitlines() if re.search(r"\sERROR\s", line))
        metrics["log.error_lines"] = {"value": errors, "unit": "count", "samples": [errors]}
        metrics["host.steal_frac"] = {"value": steal, "unit": "frac", "samples": [steal]}
    result["provenance"].update({
        "seed": args.seed,
        "host_steal_frac": steal,
        "commit": git_commit(root),
        "source_sha256": build.digest(build.sources()),
        "nproc": os.cpu_count(),
        "default_seed": DEFAULT_SEED,
        "check_seed": CHECK_SEED,
    })
    if args.record and "row_counts" in result:
        record_rows(data.name, result["row_counts"])
    out.write_text(json.dumps(result, indent=1) + "\n")

    names = spec_metrics(root, args.trace)
    missing = [n for n in names if n not in metrics]
    if missing:
        print(f"[bench] metrics missing from the result: {missing}", file=sys.stderr)
        return 3
    correct = result["failed"] == 0
    for f in result["failures"]:
        print(f"[bench] check failed: {f}", file=sys.stderr)
    summary = {"correct": correct, "attempted": result["attempted"], "failed": result["failed"],
               "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]}
                           for n in names}}
    print(json.dumps(summary))
    return 0 if correct else 1


def record_rows(sf: str, counts: dict) -> None:
    path = build.BENCH / "expected_rows.tsv"
    rows = {}
    if path.exists():
        for line in path.read_text().splitlines():
            s, q, n = line.split("\t")
            rows[(s, q)] = n
    for q, n in counts.items():
        rows[(sf, q)] = str(n)
    path.write_text("".join(f"{s}\t{q}\t{n}\n" for (s, q), n in sorted(rows.items())))


if __name__ == "__main__":
    sys.exit(main())
