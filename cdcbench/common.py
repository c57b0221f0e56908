"""Session lifecycle, host facts and the small statistics the workloads share."""

from __future__ import annotations

import math
import os
import subprocess
import time
from dataclasses import dataclass
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_probe_ms() -> float:
    """Best of three timings of a fixed pure-Python loop: a host-speed
    reference to read the run's times against."""
    best = math.inf
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t)
    return best * 1000


def repeat_walls(fn, n: int) -> list[float]:
    """Wall of each of ``n`` calls of ``fn``."""
    walls = []
    for _ in range(n):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return walls


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


@dataclass
class Session:
    """One SparkSession started through the program's ``get_spark``.

    ``start_s`` is the wall of ``get_spark`` plus a first action. Each
    session gets its own temp dir and warehouse under ``work``; the event
    log is on only when ``event_log_dir`` is given."""

    work: Path
    cores: int
    event_log_dir: Path | None = None
    spark: object = None
    start_s: float = 0.0
    app_id: str = ""

    def start(self) -> "Session":
        from pyspark_cdc_engine.session import get_spark

        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        confs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        # SparkSession.builder keeps its options across sessions: say "off"
        # explicitly, or a session after a traced one would log too
        confs["spark.eventLog.enabled"] = str(self.event_log_dir is not None).lower()
        if self.event_log_dir is not None:
            self.event_log_dir.mkdir(parents=True, exist_ok=True)
            confs.update({
                "spark.eventLog.dir": str(self.event_log_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="cdcbench",
            master=f"local[{self.cores}]",
            extra_confs=confs,
            warehouse_dir=str(self.work / "warehouse"),
        )
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.start_s = time.perf_counter() - t
        self.app_id = self.spark.sparkContext.applicationId
        return self

    def event_log(self) -> Path:
        """This session's event log file (complete once the session stopped)."""
        return self.event_log_dir / self.app_id

    def rss_peak_mb(self) -> float:
        """VmHWM of the driver JVM, in MiB."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM not reported")

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


# The traced run's sessions, one after another in one JVM: (label, local[1]
# instead of local[nproc], event log on, units). The first three units take
# the JVM past the steep part of its warm-up. A session's first unit is
# slower than its second, so each ratio compares units of equal standing and
# equal work in adjacent sessions: trace.overhead is the traced session's
# second unit over the untraced session's second, parallel.speedup the
# local[1] unit over the untraced session's first.
TRACED_PHASES = (
    ("warm", False, False, 3),
    ("traced", False, True, 2),
    ("untraced", False, False, 2),
    ("local1", True, False, 1),
)


def traced_sessions(work: Path, cores: int):
    """Yield ``(label, session, units, traced)`` for each of
    :data:`TRACED_PHASES`; each session is stopped before the next starts."""
    for label, single, traced, k in TRACED_PHASES:
        sess = Session(work / f"s_{label}", 1 if single else cores,
                       event_log_dir=work / "eventlog" if traced else None).start()
        try:
            yield label, sess, k, traced
        finally:
            sess.stop()


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway JVM this process launched and wait for it (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()  # the gateway server exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=timeout)


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())
