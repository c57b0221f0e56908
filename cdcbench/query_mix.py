"""``query_mix``: registry queries from every operator module.

One client, closed loop. A pass runs every query of :data:`QUERIES` over the
seeded tables, in a seeded order that changes from pass to pass. Warm passes
force each result with the ``noop`` sink; the cold pass collects the results
instead, and they are checked after it against the DuckDB oracle on the same
generated inputs. No warm-up pass is discarded: the time budget leaves no
room for it (see METRICS.md).
"""

from __future__ import annotations

import importlib
import random
import time
import traceback
from pathlib import Path
from statistics import median

from checks import frames_mismatch
from common import TRACED_PHASES, Session, geomean, repeat_walls, traced_sessions
from spans import Tracer, attribute, driver_gap, jobs_of, maybe_span, parse_event_log
from tables_gen import write_tables

# (registry name, operators module it lives in)
QUERIES = [
    ("pricing_summary", "core"),
    ("array_merge_versions", "cdc_like"),
    ("exact_substring_clean", "curation"),
    ("sq8_recall_at_k", "dedup_scale"),
    ("copurchase_triangles", "graph_sketch"),
    ("tokenizer_fertility_report", "text"),
]
MODULES = ("core", "cdc_like", "text", "curation", "dedup_scale", "graph_sketch")
TABLE_SIZES = {"n_orders": 10_000, "n_docs": 2_500, "n_vecs": 1_000}
NOMINAL_PASS_S = 8.0  # warm pass wall on a 4-core host; sets the pass count
INPUT_REPEATS = 3


def n_measured(seconds: int) -> int:
    return max(2, round(seconds / NOMINAL_PASS_S))


def _check_modules() -> None:
    from pyspark_cdc_engine.operators import REGISTRY

    for name, mod in QUERIES:
        fn = REGISTRY[name].spark.__name__
        if not hasattr(importlib.import_module(f"pyspark_cdc_engine.operators.{mod}"), fn):
            raise RuntimeError(f"{name} is not in operators.{mod}")


class Mix:
    """The seeded tables of one run under ``work``."""

    def __init__(self, spark, work: Path, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.data = work / "tables"

    def make_inputs(self) -> None:
        write_tables(self.data, self.seed, **TABLE_SIZES)

    def run_pass(self, p: int, tracer=None, results: dict | None = None) -> dict:
        """One pass in the seeded order for pass ``p``; returns walls by query
        plus ``"pass"``. With ``results``, collects every result into it."""
        from pyspark_cdc_engine.operators import REGISTRY

        items = list(QUERIES)
        random.Random(self.seed * 1000 + p).shuffle(items)
        walls = {}
        with maybe_span(tracer, f"pass{p}", "query_mix", index=p) as span:
            t0 = time.perf_counter()
            for name, mod in items:
                t = time.perf_counter()
                with maybe_span(tracer, name, "operators", module=mod, query=name):
                    df = REGISTRY[name].spark(self.spark, str(self.data))
                    if results is None:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        results[name] = df.toPandas()
                walls[name] = time.perf_counter() - t
            walls["pass"] = time.perf_counter() - t0
        walls["span"] = span
        return walls

    def check(self, results: dict) -> dict[str, str]:
        """Queries whose result differs from the DuckDB oracle, with a reason."""
        import duckdb

        from pyspark_cdc_engine.operators import REGISTRY

        bad = {}
        con = duckdb.connect()
        try:
            for t in ("orders", "lineitem", "documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data / t}.parquet')")
            for name, _ in QUERIES:
                why = frames_mismatch(results[name], con.sql(REGISTRY[name].oracle).df())
                if why:
                    bad[name] = why
        finally:
            con.close()
        return bad


def setup(sess: Session, work: Path, seed: int) -> tuple[Mix, float]:
    """Inputs made ``INPUT_REPEATS`` times; returns the last and the median wall."""
    mixes = []

    def inputs():
        mixes.append(Mix(sess.spark, work / f"mix{len(mixes)}", seed))
        mixes[-1].make_inputs()

    walls = repeat_walls(inputs, INPUT_REPEATS)
    return mixes[-1], median(walls)


def _run(mix: Mix, passes: list[dict], first: int, n: int, tracer=None,
         check: bool = False) -> dict[str, str]:
    """Passes ``first .. first + n - 1`` appended to ``passes``. With
    ``check``, pass ``first`` collects its results and they are checked.
    Returns the failed checks; ``"run"`` if a pass raised."""
    bad: dict[str, str] = {}
    try:
        for p in range(first, first + n):
            results = {} if check and p == first else None
            passes.append(mix.run_pass(p, tracer, results))
            if results is not None:
                bad = mix.check(results)
    except Exception as e:
        traceback.print_exc()  # into the run's log
        passes.append({})  # the pass that raised
        bad = {"run": f"{type(e).__name__}: {str(e)[:300]}"}
    return bad


def _units(passes: list[dict], bad: dict[str, str]) -> tuple[int, int]:
    """Attempted and failed units: one unit per query per pass; a failed
    check fails the query in every pass, an exception fails everything."""
    attempted = max(len(passes) * len(QUERIES), 1)
    return attempted, attempted if "run" in bad else len(bad) * len(passes)


def run_untraced(sess: Session, work: Path, seed: int, seconds: int, report) -> dict:
    _check_modules()
    n = n_measured(seconds)
    t = time.perf_counter()
    mix, setup_s = setup(sess, work, seed)
    passes: list[dict] = []
    bad = _run(mix, passes, 0, 1 + n, check=True)  # cold, then measured
    attempted, failed = _units(passes, bad)
    for item, why in bad.items():
        report(f"CHECK FAILED: {item}: {why}")
    report(f"query_mix: {len(QUERIES)} queries; "
           f"set-up {setup_s:.2f} s; run after session start {time.perf_counter() - t:.1f} s")
    if bad:
        return {"attempted": attempted, "failed": failed, "metrics": {}}
    measured = passes[1:]
    walls = [p["pass"] for p in measured]
    report(f"pass walls: cold {passes[0]['pass']:.2f} s, {len(measured)} measured "
           + ", ".join(f"{w:.2f}" for w in walls) + f" s (max {max(walls):.2f} s); "
           f"{len(walls) * len(QUERIES) / sum(walls):.3f} queries/s")
    per_query = {q: median([p[q] for p in measured]) for q, _ in QUERIES}
    report("query medians: " + ", ".join(f"{q} {w:.2f}" for q, w in per_query.items()) + " s")
    metrics = {
        "setup_s": sess.start_s + setup_s,
        "cold_s": passes[0]["pass"],
        "unit_p50_s": median(walls),
        "step_geomean_s": geomean(list(per_query.values())),
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}


def run_traced(work: Path, seed: int, cores: int, report) -> dict:
    """The passes through the sessions of :data:`TRACED_PHASES`, one pass per
    unit, over the same tables; the cold pass's results are checked. The
    traced session's second pass gives the layer metrics."""
    _check_modules()
    tracer = Tracer()
    units: dict[str, list[dict]] = {}
    bad: dict[str, str] = {}
    mix = None
    try:
        for label, sess, k, traced in traced_sessions(work, cores):
            if mix is None:
                start_s = sess.start_s
                mix = Mix(sess.spark, work / "mix", seed)
                mix.make_inputs()
            mix.spark = sess.spark
            units[label] = []
            bad = _run(mix, units[label], sum(len(v) for v in units.values()), k,
                       tracer if traced else None, check=label == TRACED_PHASES[0][0])
            if traced:
                event_log = sess.event_log()
            if bad:
                break
            rss = sess.rss_peak_mb()  # the one JVM's peak, read in every session
    except Exception as e:  # a session that failed to start fails the run
        traceback.print_exc()  # into the run's log
        bad = {"run": f"{type(e).__name__}: {str(e)[:300]}"}
    passes = [p for v in units.values() for p in v]
    attempted, failed = _units(passes, bad)
    for item, why in bad.items():
        report(f"CHECK FAILED: {item}: {why}")
    if bad:
        return {"attempted": attempted, "failed": failed, "metrics": {}}
    jobs = parse_event_log(event_log)
    attribute(tracer, jobs)
    report("passes by session: " + "; ".join(
        f"{label} " + ", ".join(f"{p['pass']:.2f}" for p in ps) for label, ps in units.items())
        + " s")
    m = layer_metrics(tracer, jobs, units["traced"][1:])
    m["session.start_s"] = start_s
    m["session.rss_peak_mb"] = rss
    m["parallel.speedup"] = units["local1"][0]["pass"] / units["untraced"][0]["pass"]
    m["trace.overhead"] = units["traced"][1]["pass"] / units["untraced"][1]["pass"]
    return {"attempted": attempted, "failed": failed, "metrics": m, "tracer": tracer}


def layer_metrics(tracer: Tracer, jobs: list, warm: list[dict]) -> dict:
    """Per-layer metrics of the traced passes (means; walls of single
    queries are medians)."""
    per = []
    for p in warm:
        m: dict[str, float] = {}
        spans = tracer.children(p["span"])
        for mod in MODULES:
            qs = [s for s in spans if s.layer == "operators" and s.attrs["module"] == mod]
            js = {s.id: jobs_of(tracer, jobs, s) for s in qs}
            stages = [st for s in qs for j in js[s.id] for st in j.stages]
            m[f"operators.{mod}.wall_s"] = sum(s.wall for s in qs)
            m[f"operators.{mod}.jobs"] = sum(len(v) for v in js.values())
            m[f"operators.{mod}.tasks"] = sum(st.tasks for st in stages)
            m[f"operators.{mod}.task_s"] = sum(st.run_s for st in stages)
            m[f"operators.{mod}.driver_gap_s"] = sum(driver_gap(s, js[s.id]) for s in qs)
            m[f"operators.{mod}.shuffle_write_bytes"] = sum(st.shuffle_write for st in stages)
            m[f"operators.{mod}.spill_bytes"] = sum(st.spill for st in stages)
        per.append(m)
    out = {k: sum(m[k] for m in per) / len(per) for k in per[0]}
    for q, _ in QUERIES:
        out[f"query.{q}.wall_s"] = median([p[q] for p in warm])
    return out
