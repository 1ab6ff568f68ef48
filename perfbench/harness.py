"""Run context, Spark session lifecycle and the set-up measurement shared by
every workload.

Set-up time (``setup_s``) is measured by tearing the session down and
building it again through the engine's ``build_session``, then running the
workload's warm-up, several times in one run; the median is reported.  The
first build, which pays for the engine import and the JVM launch, is
reported on its own as ``session.cold_start_s``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from measure import Tracer

SETUP_REPEATS = 3
# Run artifacts kept after a run; generated inputs and outputs are removed.
KEEP = {"spark.log", "eventlog"}


@dataclass
class Context:
    workload: str
    seed: int
    seconds: int
    trace: bool
    out_dir: str
    ncpu: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))
    tracer: Tracer = field(init=False)

    def __post_init__(self) -> None:
        self.tracer = Tracer(f"{self.workload}-seed{self.seed}", self.trace)

    def path(self, *parts: str) -> str:
        return os.path.join(self.out_dir, *parts)


class Sessions:
    """Owns the SparkSession (and, at close, the JVM) of one benchmark run."""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.spark = None
        self.event_logs: list[str] = []

    def _conf(self, event_log: bool) -> dict[str, str]:
        tmp = self.ctx.path("tmp")
        conf = {
            "spark.sql.warehouse.dir": self.ctx.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if event_log:
            log_dir = self.ctx.path("eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def open(self, event_log: bool = False):
        from data_ingestion_ex8_producer_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        spark = build_session(f"perfbench-{self.ctx.workload}", extra_conf=self._conf(event_log))
        expected = f"local[{self.ctx.ncpu}]"
        if spark.sparkContext.master != expected:
            raise RuntimeError(
                f"session master is {spark.sparkContext.master!r}, expected {expected!r}"
                " (SPARK_MASTER or SPARK_ENV_LOADED overrides SPARK_GRAFT_CPUS)"
            )
        if event_log:
            self.event_logs.append(self._event_log_path(spark))
        self.spark = spark
        return spark

    def _event_log_path(self, spark) -> str:
        app_id = spark.sparkContext.applicationId
        return self.ctx.path("eventlog", app_id)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop the session, shut the gateway down and wait for the JVM (its
        Python workers exit with it)."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def cold_start(ctx: Context, sessions: Sessions) -> float:
    """Engine import (every operator module) + JVM launch + first build."""
    t0 = time.perf_counter()
    with ctx.tracer.span("session.cold_start"):
        from data_ingestion_ex8_producer_spark.plans.registry import all_specs

        all_specs()
        sessions.open()
    return time.perf_counter() - t0


def setup_repeats(ctx: Context, sessions: Sessions, warm_up) -> list[float]:
    """``SETUP_REPEATS`` session rebuilds, each followed by the workload's
    warm-up; the last session stays open.  A traced run reports no set-up
    time and builds once."""
    repeats = []
    for _ in range(1 if ctx.trace else SETUP_REPEATS):
        t0 = time.perf_counter()
        with ctx.tracer.span("session.setup"):
            warm_up(sessions.open())
        repeats.append(time.perf_counter() - t0)
    return repeats


def run_workload(ctx: Context) -> dict:
    """Dispatch to the workload and assemble the run record.  In a checkout
    without the engine, the import in ``cold_start`` fails before any work."""
    from analytics import Analytics
    from ingest_batch import IngestBatch

    classes = {"ingest_batch": IngestBatch, "analytics_sf0.01": Analytics}
    workload_cls = classes[ctx.workload]
    sessions = Sessions(ctx)
    try:
        workload = workload_cls(ctx, sessions)
        cold = cold_start(ctx, sessions)
        workload.prepare()
        setups = setup_repeats(ctx, sessions, workload.warm_up)
        record = workload.run()
        peak_rss = sessions.jvm_peak_rss_mb()
    finally:
        sessions.close()
        for name in set(os.listdir(ctx.out_dir)) - KEEP:
            path = ctx.path(name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            else:
                os.remove(path)
    op = record.pop("op_p50_s")
    record["report"]["setup_s_samples"] = setups
    record["report"]["cold_start_s"] = cold
    if ctx.trace:
        # Every run reports every per-layer metric; a layer the workload
        # never calls did no work on it and reads 0.
        units = dict(PER_LAYER_UNITS)
        for cls in classes.values():
            units.update(cls.UNITS)
        layers = dict.fromkeys(units, 0.0)
        layers.update(workload.layers(sessions.event_logs))
        layers["session.cold_start_s"] = cold
        layers["session.jvm_peak_rss_mb"] = peak_rss
        ctx.tracer.write(ctx.path("spans.json"))
        record["metrics"] = _with_units(layers, units)
    else:
        e2e = {"setup_s": statistics.median(setups), "op_p50_s": op}
        record["metrics"] = _with_units(e2e, END_TO_END_UNITS)
    return record


END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s"}
PER_LAYER_UNITS = {"session.cold_start_s": "s", "session.jvm_peak_rss_mb": "MB"}


def _with_units(values: dict, units: dict) -> dict:
    return {name: {"value": float(v), "unit": units[name]} for name, v in values.items()}
