"""Runs one workload in untraced or traced mode and assembles the result."""

from __future__ import annotations

import importlib
import json
import platform
from pathlib import Path

from common import Session, host_probe_ms, nproc, shutdown_jvm


def run(workload: str, work: Path, logs: Path, seed: int, seconds: int, traced: bool,
        report) -> dict:
    """Run ``workload`` under ``work``; a traced run also writes its spans to
    ``logs/<workload>-s<seed>-spans.jsonl``."""
    import pyspark

    mod = importlib.import_module({"cdc_backlog": "cdc", "query_mix": "query_mix"}[workload])
    cores = nproc()
    report(f"host: nproc={cores} pyspark={pyspark.__version__} "
           f"python={platform.python_version()} probe={host_probe_ms():.1f} ms")
    try:
        if traced:
            out = mod.run_traced(work, seed, cores, report)
        else:
            sess = Session(work / "session", cores).start()
            try:
                out = mod.run_untraced(sess, work, seed, seconds, report)
            finally:
                sess.stop()
    finally:
        shutdown_jvm()
    if "tracer" in out:
        out.pop("tracer").write_jsonl(logs / f"{workload}-s{seed}-spans.jsonl")
    metrics = out["metrics"]
    if metrics:
        metrics = _with_units(metrics, workload, traced)
    return {"correct": out["failed"] == 0 and out["attempted"] > 0,
            "attempted": out["attempted"], "failed": out["failed"], "metrics": metrics}


# Per-layer metrics of layers a workload never runs; they read 0 there.
NOT_RUN = {
    "cdc_backlog": ("operators.", "query."),
    "query_mix": ("streaming.", "parse.", "tx_state.", "tables.", "scd1.", "replicate.",
                  "maintenance."),
}


def _with_units(values: dict[str, float], workload: str, traced: bool) -> dict:
    """Attach the units declared in BENCHMARK.json; the names must match it
    exactly (per-layer names of layers the workload never runs read 0)."""
    spec = json.loads((Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    if traced:
        values = dict(values)
        for name in declared:
            if name not in values and name.startswith(NOT_RUN[workload]):
                values[name] = 0
    if set(values) != set(declared):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: missing "
                           f"{sorted(set(declared) - set(values))}, extra "
                           f"{sorted(set(values) - set(declared))}")
    return {k: {"value": values[k], "unit": declared[k]} for k in declared}
