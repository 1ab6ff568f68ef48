"""The streaming-ingest phase of the traced ``ingest_batch`` run.

``build_ingest_stream(sink="parquet", trigger_seconds=0)`` watches a landing
directory.  A generator thread lands one BACEN file every 1/RATE seconds on
a fixed schedule that does not slow down when the engine does (open loop);
each file is written under a hidden temp name and renamed to ``*.csv``.
Each file is timed from its *scheduled* landing to the end of the
micro-batch that committed it.  Files are mapped to batches by cumulative
``numInputRows`` (``maxFilesPerTrigger`` admits files oldest first), from
``StreamingQueryProgress`` events collected by a listener the benchmark
registers.  Before the schedule starts, one warm-up file is landed and
committed, so the first batch's start-up cost is not charged to a file.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import Counter
from datetime import datetime

import gen
from measure import commit_latencies, tail_percentile

RATE = 2.5  # files per second
ROWS_PER_FILE = 1600
# Enough files for a p75 with ten samples beyond it.
N_FILES = 60
COMMIT_TIMEOUT_S = 60.0
DRAIN_TIMEOUT_S = 30.0

UNITS = {
    "ingest.commit_p50_s": "s",
    "ingest.commit_p75_s": "s",
    "ingest.backlog_files": "count",
    "ingest.batches": "count",
    "ingest.files_per_batch_p50": "count",
    "ingest.trigger_ms_p50": "ms",
    "ingest.add_batch_ms_p50": "ms",
    "ingest.latest_offset_ms_p50": "ms",
    "ingest.query_planning_ms_p50": "ms",
    "ingest.wal_commit_ms_p50": "ms",
    "ingest.idle_share": "ratio",
    "ingest.generator_lag_s": "s",
}


def _listener(spark):
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Keeps every progress event of every query, in arrival order."""

        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            durations = dict(p.durationMs)
            with self.lock:
                self.events.append({
                    "query": str(p.id),
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "end": start + durations.get("triggerExecution", 0) / 1000.0,
                    "durations": durations,
                })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def batches(self, query_id: str) -> list[dict]:
            """Data-carrying batches of one query, one entry per batch id."""
            with self.lock:
                by_id = {e["batch"]: e for e in self.events if e["query"] == query_id}
            return [by_id[b] for b in sorted(by_id) if by_id[b]["rows"] > 0]

    log = ProgressLog()
    spark.streams.addListener(log)
    return log


class StreamPhase:
    def __init__(self, ctx, seed: int) -> None:
        self.ctx = ctx
        # The warm-up file uses its own serial range, so every landed row
        # is distinct.
        self.rows = gen.bacen_rows(seed, N_FILES * ROWS_PER_FILE)
        self.warm_rows = gen.bacen_rows(seed + 1, ROWS_PER_FILE, first_serial=10**8)

    @staticmethod
    def _wait_rows(query, log, rows: int, timeout: float) -> bool:
        deadline = time.time() + timeout
        while sum(b["rows"] for b in log.batches(str(query.id))) < rows:
            if query.exception() is not None:
                raise RuntimeError(f"ingest stream failed: {query.exception()}")
            if time.time() > deadline:
                return False
            time.sleep(0.02)
        return True

    def run(self, spark) -> dict:
        """Start the stream, commit the warm-up file, land the schedule,
        drain and stop; then check the output."""
        from data_ingestion_ex8_producer_spark.streaming.ingest import build_ingest_stream

        log = _listener(spark)
        base = self.ctx.path("stream")
        dirs = {k: os.path.join(base, k) for k in ("landing", "checkpoint", "output")}
        os.makedirs(dirs["landing"])
        query = build_ingest_stream(
            spark, dirs["landing"], dirs["checkpoint"], sink="parquet",
            output_path=dirs["output"], trigger_seconds=0,
        )
        try:
            gen.land_bacen_csv(dirs["landing"], "warm", self.warm_rows)
            if not self._wait_rows(query, log, ROWS_PER_FILE, COMMIT_TIMEOUT_S):
                raise RuntimeError("warm-up file was not committed")
            m = self._schedule(query, log, dirs["landing"])
        finally:
            query.stop()
        m["error"] = self._check(spark, dirs["output"])
        return m

    def _schedule(self, query, log, landing: str) -> dict:
        landed: list[float] = []
        t_start = time.time() + 0.2
        scheduled = [t_start + k / RATE for k in range(N_FILES)]

        def generate() -> None:
            for k, due in enumerate(scheduled):
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                chunk = self.rows[k * ROWS_PER_FILE : (k + 1) * ROWS_PER_FILE]
                gen.land_bacen_csv(landing, f"reclamacoes_{k:05d}", chunk)
                landed.append(time.time())

        with self.ctx.tracer.span("stream.generator"):
            thread = threading.Thread(target=generate, name="landing-generator")
            thread.start()
            thread.join(timeout=N_FILES / RATE + 60)
            if thread.is_alive():
                raise RuntimeError("landing generator did not finish")
        t_stop = time.time()
        with self.ctx.tracer.span("stream.drain"):
            self._wait_rows(query, log, (N_FILES + 1) * ROWS_PER_FILE, DRAIN_TIMEOUT_S)
        batches = log.batches(str(query.id))
        latencies = commit_latencies(
            scheduled, [ROWS_PER_FILE] * N_FILES,
            [(b["end"], b["rows"]) for b in batches], skip_rows=ROWS_PER_FILE,
        )
        return {
            "latencies": [lat for lat in latencies if lat is not None],
            "backlog": sum(
                1 for due, lat in zip(scheduled, latencies) if lat is None or due + lat > t_stop
            ),
            "lag": [actual - due for actual, due in zip(landed, scheduled)],
            "batches": [b for b in batches if b["end"] > t_start],
            "window": t_stop - t_start,
        }

    def _check(self, spark, output: str) -> str | None:
        """Every landed row (warm-up file included) must appear exactly once
        in the committed parquet output, as its reference-codec datum.
        Returns None when it does, else what differs."""
        from data_ingestion_ex8_producer_spark.functions.avro_codec import encode_record
        from data_ingestion_ex8_producer_spark.schemas import FIELD_ORDER

        expected = Counter(
            encode_record(dict(zip(FIELD_ORDER, r))) for r in self.warm_rows + self.rows
        )
        got = Counter(bytes(v) for v in spark.read.parquet(output).toPandas()["value"])
        if got == expected:
            return None
        missing = sum((expected - got).values())
        extra = sum((got - expected).values())
        return f"stream output differs from landed rows: {missing} missing, {extra} extra"


def layers(m: dict) -> dict:
    """Per-layer metrics of one measured stream."""
    batches = m["batches"]

    def p50(key: str) -> float:
        return statistics.median(b["durations"].get(key, 0) for b in batches)

    busy = sum(b["durations"].get("triggerExecution", 0) for b in batches) / 1000.0
    tail = tail_percentile(m["latencies"])
    if tail is None or tail[0] < 75:
        raise RuntimeError(f"{len(m['latencies'])} committed files cannot support a p75")
    return {
        "ingest.commit_p50_s": statistics.median(m["latencies"]),
        "ingest.commit_p75_s": tail[1],
        "ingest.backlog_files": m["backlog"],
        "ingest.batches": len(batches),
        "ingest.files_per_batch_p50": statistics.median(b["rows"] for b in batches)
        / ROWS_PER_FILE,
        "ingest.trigger_ms_p50": p50("triggerExecution"),
        "ingest.add_batch_ms_p50": p50("addBatch"),
        "ingest.latest_offset_ms_p50": p50("latestOffset"),
        "ingest.query_planning_ms_p50": p50("queryPlanning"),
        "ingest.wal_commit_ms_p50": p50("walCommit"),
        "ingest.idle_share": max(0.0, 1.0 - busy / m["window"]),
        "ingest.generator_lag_s": max(m["lag"]),
    }
