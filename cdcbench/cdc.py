"""``cdc_backlog``: GoldenGate windows through SCD2 -> SCD1, then the replica.

One client, closed loop: the benchmark lands a window's files, drains
``cdc_to_scd2_stream``, then ``scd2_to_scd1_stream`` (each ``availableNow``),
and only then lands the next window. Window 0 inserts the base orders and is
the cold unit; the measured windows follow it directly (no warm-up window is
discarded: the time budget leaves no room for it, see METRICS.md). Every
later window mixes inserts with version bumps of base orders, lands a fifth
of its metadata one window late and splits one multi-order transaction over
two windows. The last window also lands the flush (everything still
carried), so no transaction is parked once it has drained. After the last
window one ``replicate_stream`` drain catches a replica of ``orders_current``
up with every window, through the change feed enabled at set-up, and the
paper's consumer SQL (``sql/``) runs over ``order_stream`` and
``orders_current``.
"""

from __future__ import annotations

import json
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

from common import TRACED_PHASES, Session, dir_bytes, geomean, repeat_walls, traced_sessions
from gg_gen import GGGenerator, Window, WindowMix, land
from spans import Tracer, attribute, driver_gap, jobs_of, maybe_span, parse_event_log

WINDOW_TX = 250
MIX = WindowMix(n_tx=WINDOW_TX, insert_share=2 / 3, late_meta_share=0.2, split_orders=8)
NOMINAL_WINDOW_S = 9.0  # warm window wall on a 4-core host; sets the unit count
INPUT_REPEATS = 3
SQL_DIR = Path(__file__).resolve().parents[1] / "sql"
TABLE_METHODS = ["append", "merge", "read", "read_changes"]


def n_measured(seconds: int) -> int:
    return max(2, round(seconds / NOMINAL_WINDOW_S))


@dataclass
class Drain:
    wall: float
    progress: list[dict]
    span: object = None


@dataclass
class WindowResult:
    index: int
    docs: int
    wall: float = 0.0
    drains: dict[str, Drain] = field(default_factory=dict)
    span: object = None
    extra: dict = field(default_factory=dict)


class Chain:
    """The CDC tables, checkpoints and input dirs of one run under ``work``:
    the cold window, then ``n_windows`` windows of :data:`MIX` (the last also
    lands the flush)."""

    def __init__(self, spark, work: Path, seed: int, n_windows: int):
        self.work, self.seed, self.n_windows = work, seed, n_windows
        self.bind(spark)

    def bind(self, spark) -> None:
        """Drive the tables from ``spark`` (also a later session)."""
        from pyspark_cdc_engine.tables import DeltaliteTable

        self.spark = spark
        self.order_stream = DeltaliteTable(spark, str(self.work / "order_stream"))
        self.orders_current = DeltaliteTable(spark, str(self.work / "orders_current"))
        self.replica = DeltaliteTable(spark, str(self.work / "replica"))

    def make_inputs(self) -> None:
        """Generate every window of the run (landed one by one later)."""
        self.gen = GGGenerator(self.seed, base_orders=WINDOW_TX)
        self.windows: list[Window] = [self.gen.base_window()]
        self.windows += [self.gen.window(MIX) for _ in range(self.n_windows)]
        # the last window also lands the flush: its own late metadata and
        # split half, so nothing is parked once it has drained
        flush = self.gen.flush()
        self.windows[-1] = Window(self.windows[-1].cdc + flush.cdc,
                                  self.windows[-1].meta + flush.meta)

    def bootstrap(self) -> None:
        """An empty ``orders_current`` with its change feed enabled."""
        from pyspark_cdc_engine.scd1 import transform_source_batch
        from pyspark_cdc_engine.schemas import ORDER_STREAM_SCHEMA

        empty = self.spark.createDataFrame([], ORDER_STREAM_SCHEMA)
        schema = transform_source_batch(empty).schema  # analysis only, no job
        self.orders_current.overwrite(self.spark.createDataFrame([], schema))
        self.orders_current.enable_cdf()

    def _drain(self, d: str, tracer=None) -> Drain:
        from pyspark_cdc_engine.scd1 import scd2_to_scd1_stream
        from pyspark_cdc_engine.streaming.pipeline import cdc_to_scd2_stream
        from pyspark_cdc_engine.streaming.replicate import replicate_stream

        work = self.work
        t = time.perf_counter()
        with maybe_span(tracer, f"drain.{d}", "streaming", drain=d) as span:
            if d == "scd2":
                q = cdc_to_scd2_stream(self.spark, str(work / "in_cdc"), str(work / "in_meta"),
                                       self.order_stream, str(work / "ck_scd2"))
            elif d == "scd1":
                q = scd2_to_scd1_stream(self.spark, self.order_stream, self.orders_current,
                                        str(work / "ck_scd1"))
            else:
                q = replicate_stream(self.spark, self.orders_current.path, self.replica.path,
                                     ["orderId"], str(work / "ck_replica"))
            q.awaitTermination()
        return Drain(time.perf_counter() - t,
                     [json.loads(p.json) for p in q.recentProgress], span)

    def run_window(self, i: int, tracer=None) -> WindowResult:
        res = WindowResult(i, self.windows[i].docs)
        with maybe_span(tracer, f"window{i}", "cdc", index=i) as span:
            t0 = time.perf_counter()
            land(self.windows[i], self.work / "in_cdc", self.work / "in_meta", f"w{i:05d}")
            for d in ("scd2", "scd1"):
                res.drains[d] = self._drain(d, tracer)
            res.wall = time.perf_counter() - t0
        res.span = span
        return res

    def catch_up_replica(self, tracer=None) -> Drain:
        return self._drain("replica", tracer)

    def run_corpus(self, tracer=None) -> tuple[float, list[str]]:
        """The paper's consumer SQL (``sql/``) over the chain's tables, each
        statement collected, and its uniqueness probe checked. Untraced runs
        only need the check and run the probe alone. Returns the wall and
        the failed checks."""
        from pyspark_cdc_engine.maintenance import register_cdc_views, split_sql_statements

        stmts = [s for f in sorted(SQL_DIR.glob("*.sql"))
                 for s in split_sql_statements(f.read_text())]
        probe = [s for s in stmts if "HAVING COUNT(*) > 1" in s]
        if len(probe) != 1:
            return 0.0, ["sql/ has no single uniqueness probe"]
        with maybe_span(tracer, "sql_corpus", "maintenance"):
            t = time.perf_counter()
            register_cdc_views(self.spark, self.order_stream, self.orders_current)
            rows = {s: self.spark.sql(s).collect() for s in (stmts if tracer else probe)}
            wall = time.perf_counter() - t
        return wall, ["sql/ uniqueness probe returned rows"] if rows[probe[0]] else []

    def check_replica(self) -> list[str]:
        """The replica equals ``orders_current`` (empty when it holds)."""
        cur, replica = self.orders_current.read(), self.replica.read()
        cols = sorted(cur.columns)
        if sorted(replica.columns) != cols:
            return [f"replica columns {sorted(replica.columns)} != {cols}"]

        def by_id(df):
            return sorted(df.select(cols).collect(), key=lambda r: r["orderId"])

        return ["replica differs from orders_current"] if by_id(cur) != by_id(replica) else []

    def check_tables(self, last: WindowResult) -> list[str]:
        """Failed end-state checks of the CDC tables once every window has
        drained (empty when all hold)."""
        problems = []
        n_stream = self.order_stream.read().count()
        if n_stream != self.gen.order_stream_rows:
            problems.append(f"order_stream rows {n_stream} != {self.gen.order_stream_rows}")
        cur = self.orders_current.read()
        rows = cur.selectExpr(
            "orderId", "version", "orderStatus",
            "transform(lineItems, li -> struct(li.lineItemId, li.itemQty)) AS items",
        ).collect()
        ids = [r["orderId"] for r in rows]
        if len(ids) != len(set(ids)):
            problems.append("orders_current has duplicate orderId")
        got = {
            int(r["orderId"]): (
                int(r["version"]), r["orderStatus"],
                tuple(sorted((int(a), float(b)) for a, b in r["items"])),
            )
            for r in rows
        }
        want = self.gen.expected_current()
        if got != want:
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            problems.append(f"orders_current differs on {len(bad)} orders, e.g. {bad[:3]}")
        parked = _state_rows(last.drains["scd2"].progress)
        if parked != 0:
            problems.append(f"{parked} transactions still parked after the flush")
        return problems

    def table_bytes(self) -> int:
        return sum(dir_bytes(Path(t.path)) for t in (self.order_stream, self.orders_current)
                   if Path(t.path).exists())


def _state_rows(progress: list[dict]) -> int:
    ops = progress[-1]["stateOperators"] if progress else []
    return sum(op["numRowsTotal"] for op in ops)


def setup(sess: Session, work: Path, seed: int, n_windows: int) -> tuple[Chain, float]:
    """Inputs made ``INPUT_REPEATS`` times (the median counts), then the
    tables bootstrapped once. Returns the chain and the set-up wall."""
    chains = []

    def inputs():
        chains.append(Chain(sess.spark, work / f"chain{len(chains)}", seed, n_windows))
        chains[-1].make_inputs()

    walls = repeat_walls(inputs, INPUT_REPEATS)
    t = time.perf_counter()
    chains[-1].bootstrap()
    return chains[-1], median(walls) + time.perf_counter() - t


def _failed(attempted: int, problems: list[str], report) -> dict:
    """A failed check or drain fails every window: the checks cover them all."""
    for p in problems:
        report(f"CHECK FAILED: {p}")
    return {"attempted": max(attempted, 1), "failed": max(attempted, 1), "metrics": {}}


def run_untraced(sess: Session, work: Path, seed: int, seconds: int, report) -> dict:
    n = n_measured(seconds)
    t = time.perf_counter()
    chain, setup_s = setup(sess, work, seed, n)
    results: list[WindowResult] = []
    try:
        for i in range(1 + n):
            results.append(chain.run_window(i))
        replica = chain.catch_up_replica()
        problems = chain.check_replica()
        problems += chain.run_corpus()[1]
        problems += chain.check_tables(results[-1])
    except Exception as e:  # a failed drain fails the chain
        traceback.print_exc()  # into the run's log
        problems = [f"{type(e).__name__}: {str(e)[:300]}"]
    if problems:
        return _failed(len(results), problems, report)
    measured = results[1:]
    walls = [r.wall for r in measured]
    drains = {d: median([r.drains[d].wall for r in measured]) for d in ("scd2", "scd1")}
    docs = sum(r.docs for r in measured)
    report(f"cdc_backlog: {len(measured)} measured windows of {WINDOW_TX} tx "
           f"(~{measured[0].docs} GG docs each); set-up {setup_s:.2f} s; "
           f"run after session start {time.perf_counter() - t:.1f} s")
    report(f"window walls: cold {results[0].wall:.2f} s, measured "
           + ", ".join(f"{w:.2f}" for w in walls) + f" s (max {max(walls):.2f} s); "
           f"{docs / sum(walls):.1f} GG docs/s")
    report(f"drain medians: scd2 {drains['scd2']:.2f} s, scd1 {drains['scd1']:.2f} s; "
           f"replica catch-up {replica.wall:.2f} s")
    metrics = {
        "setup_s": sess.start_s + setup_s,
        "cold_s": results[0].wall,
        "unit_p50_s": median(walls),
        "step_geomean_s": geomean([drains["scd2"], drains["scd1"], replica.wall]),
    }
    return {"attempted": len(results), "failed": 0, "metrics": metrics}


def run_traced(work: Path, seed: int, cores: int, report) -> dict:
    """The chain through the sessions of :data:`TRACED_PHASES`, one window per
    unit. The traced session (event log on, ``DeltaliteTable`` methods
    wrapped) also catches the replica up, checks it and runs the whole SQL
    corpus; its second window gives the per-window layer metrics. The
    local[1] window also lands the flush; the table checks run after it and
    cover every window."""
    from pyspark_cdc_engine.tables import DeltaliteTable

    tracer = Tracer()
    n_windows = sum(k for *_, k in TRACED_PHASES) - 1
    units: dict[str, list[WindowResult]] = {}
    problems: list[str] = []
    chain = None
    try:
        for label, sess, k, traced in traced_sessions(work, cores):
            if chain is None:
                start_s = sess.start_s
                chain = Chain(sess.spark, work / "chain", seed, n_windows)
                chain.make_inputs()
                chain.bootstrap()
            chain.bind(sess.spark)
            units[label] = []
            if traced:
                tracer.wrap_methods(DeltaliteTable, TABLE_METHODS, "tables")
                try:
                    for _ in range(k):
                        before = _table_probe(chain)
                        units[label].append(chain.run_window(_count(units), tracer))
                        units[label][-1].extra = _table_probe(chain, before)
                    v_end = chain.orders_current.latest_version()
                    replica = chain.catch_up_replica(tracer)
                    corpus_s, corpus_problems = chain.run_corpus(tracer)
                finally:
                    tracer.unwrap()
                problems += corpus_problems + chain.check_replica()
                change_rows = chain.orders_current.read_changes(0, v_end).count()
                event_log = sess.event_log()
            else:
                for _ in range(k):
                    units[label].append(chain.run_window(_count(units)))
            if label == TRACED_PHASES[-1][0]:  # every window has drained
                rss = sess.rss_peak_mb()  # the one JVM's peak over every session
                problems += chain.check_tables(units[label][-1])
    except Exception as e:
        traceback.print_exc()  # into the run's log
        problems.append(f"{type(e).__name__}: {str(e)[:300]}")
    if problems:
        return _failed(_count(units), problems, report)
    jobs = parse_event_log(event_log)
    attribute(tracer, jobs)
    report("windows by session: " + "; ".join(
        f"{label} " + ", ".join(f"{r.wall:.2f}" for r in rs) for label, rs in units.items())
        + f" s; replica catch-up {replica.wall:.2f} s")
    m = layer_metrics(tracer, jobs, units["traced"][1:])
    m.update(replica_metrics(tracer, jobs, replica))
    m["replicate.change_rows"] = change_rows
    m["session.start_s"] = start_s
    m["session.rss_peak_mb"] = rss
    m["maintenance.sql_corpus_s"] = corpus_s
    m["parallel.speedup"] = units["local1"][0].wall / units["untraced"][0].wall
    m["trace.overhead"] = units["traced"][1].wall / units["untraced"][1].wall
    return {"attempted": _count(units), "failed": 0, "metrics": m, "tracer": tracer}


def _count(units: dict[str, list]) -> int:
    return sum(len(v) for v in units.values())


def _table_probe(chain: Chain, before=None):
    """Versions and bytes of the two CDC tables around a window; with
    ``before``, the deltas and the live data files after it."""
    tables = (chain.order_stream, chain.orders_current)
    now = {"versions": [t.latest_version() if t.exists() else -1 for t in tables],
           "bytes": chain.table_bytes()}
    if before is None:
        return now
    return {
        "commits": sum(b - a for a, b in zip(before["versions"], now["versions"])),
        "bytes": now["bytes"] - before["bytes"],
        "live_files": sum(len(list(Path(d).rglob("*.parquet")))
                          for t in tables for d in t.live_data_dirs()),
    }


def _ms(progress: list[dict], *keys: str) -> float:
    return sum(p["durationMs"].get(k, 0) for p in progress for k in keys) / 1000


def _streaming(d: str, drain: Drain) -> dict[str, float]:
    prog = drain.progress
    return {
        f"streaming.{d}.wall_s": drain.wall,
        f"streaming.{d}.overhead_s": drain.wall - _ms(prog, "triggerExecution"),
        f"streaming.{d}.planning_s": _ms(prog, "queryPlanning"),
        f"streaming.{d}.offsets_s": _ms(
            prog, "latestOffset", "getBatch", "walCommit", "commitOffsets"),
        f"streaming.{d}.add_batch_s": _ms(prog, "addBatch"),
        f"streaming.{d}.batches": len(prog),
    }


def _top_tables(tracer: Tracer, span) -> list:
    """``tables`` spans under ``span`` that no other ``tables`` span encloses."""
    return [s for s in tracer.subtree(span) if s.layer == "tables"
            and tracer.spans[s.parent].layer != "tables"]


def layer_metrics(tracer: Tracer, jobs: list, warm: list[WindowResult]) -> dict:
    """Per-layer metrics of the traced windows, averaged over them."""
    per = []
    for r in warm:
        m: dict[str, float] = {}
        for d in ("scd2", "scd1"):
            m.update(_streaming(d, r.drains[d]))
        scd2, scd1 = r.drains["scd2"], r.drains["scd1"]
        own = [st for j in jobs_of(tracer, jobs, scd2.span, subtree=False) for st in j.stages]
        mapside = [st for st in own if st.shuffle_write and not st.shuffle_read]
        reduce = [st for st in own if st.shuffle_read]
        m["parse.task_s"] = sum(st.run_s for st in mapside)
        m["parse.input_rows"] = sum(st.input_rows for st in mapside)
        m["parse.shuffle_write_bytes"] = sum(st.shuffle_write for st in mapside)
        ops = [op for p in scd2.progress for op in p["stateOperators"]]
        last_ops = scd2.progress[-1]["stateOperators"] if scd2.progress else []
        m["tx_state.task_s"] = sum(st.run_s for st in reduce)
        m["tx_state.tasks"] = sum(st.tasks for st in reduce)
        m["tx_state.updates_s"] = sum(op["allUpdatesTimeMs"] for op in ops) / 1000
        m["tx_state.commit_s"] = sum(op["commitTimeMs"] for op in ops) / 1000
        m["tx_state.parked_tx"] = sum(op["numRowsTotal"] for op in last_ops)
        m["tx_state.completed_tx"] = sum(op["numRowsRemoved"] for op in ops)
        m["tx_state.state_bytes"] = sum(op["memoryUsedBytes"] for op in last_ops)
        top = _top_tables(tracer, r.span)
        for meth in ("append", "merge", "read"):
            m[f"tables.{meth}_s"] = sum(s.wall for s in top if s.attrs["method"] == meth)
        m["tables.commits"] = r.extra["commits"]
        m["tables.bytes_per_event"] = r.extra["bytes"] / r.docs
        m["tables.live_files"] = r.extra["live_files"]
        js = jobs_of(tracer, jobs, scd1.span)
        m["scd1.jobs"] = len(js)
        m["scd1.task_s"] = sum(j.task_s for j in js)
        m["scd1.driver_gap_s"] = driver_gap(scd1.span, js)
        m["scd1.shuffle_write_bytes"] = sum(st.shuffle_write for j in js for st in j.stages)
        m["scd1.rows_in"] = sum(p["numInputRows"] for p in scd1.progress)
        per.append(m)
    return {k: sum(m[k] for m in per) / len(per) for k in per[0]}


def replica_metrics(tracer: Tracer, jobs: list, replica: Drain) -> dict:
    """Per-layer metrics of the replica catch-up drain."""
    js = jobs_of(tracer, jobs, replica.span)
    return {
        **_streaming("replica", replica),
        "replicate.jobs": len(js),
        "replicate.task_s": sum(j.task_s for j in js),
        "replicate.driver_gap_s": driver_gap(replica.span, js),
        "tables.read_changes_s": sum(s.wall for s in _top_tables(tracer, replica.span)
                                     if s.attrs["method"] == "read_changes"),
    }
