"""Benchmark entry point.

    python3 cdcbench/run.py --workload cdc_backlog --seed 1 --seconds 20 --trace 0

Run from the repository root. Prints a short report and, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1``). Spark's console output and the Python workers' warnings
go to ``.bench_logs/<workload>-s<seed>-t<trace>.log``; every table, checkpoint
and input file lives under a per-run dir in ``.bench_work/`` that is removed
at the end. See ``cdcbench/METRICS.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("cdc_backlog", "query_mix")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pyspark_cdc_engine" / "__init__.py").is_file():
        print(f"pyspark_cdc_engine not found under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    logs = ROOT / ".bench_logs"
    work.mkdir(parents=True)
    logs.mkdir(exist_ok=True)
    log_path = logs / f"{args.workload}-s{args.seed}-t{args.trace}.log"

    # Spark workers import the program by module name: put the checkout first
    # on their path, and keep every temp file of this process under the run dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")  # wins over spark.local.dir
    (work / "tmp").mkdir()
    sys.path[:0] = [str(HERE), str(ROOT)]

    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 1)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    def report(line: str) -> None:
        print(line, file=out, flush=True)

    try:
        import harness
        result = harness.run(args.workload, work, logs, args.seed, args.seconds,
                             bool(args.trace), report)
    except Exception:
        traceback.print_exc(file=err)
        err.flush()
        return 1
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        shutil.rmtree(work, ignore_errors=True)
    report(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
