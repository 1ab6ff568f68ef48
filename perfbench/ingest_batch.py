"""``ingest_batch``: the reference's job run as a batch, plus a read-back leg.

One operation is a round trip over the whole generated input:

1. ``read_reclamacoes_batch`` (header probe + scan + sanitize + empty→NULL)
   → ``avro_value_frame`` → the ``avro_datum_dir`` sink, committed;
2. ``decode_value_frame`` over a parquet file holding the same rows'
   reference-codec datums (the broker-less stand-in for a Kafka topic),
   into the noop sink.

The traced run splits the ingest leg by prefix materialization: the probe
call is timed alone, then each longer pipeline prefix is written to noop
(scan; scan+encode) and to the real sink, and the differences give the
layer times.  The read-back leg is split the same way (parquet read; read
+ decode).  The traced run then drives the streaming ingest path under an
open-loop file feed (``ingest_stream.StreamPhase``) for the streaming
layer's metrics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

import gen
import ingest_stream

N_FILES = 6
ROWS_PER_FILE = 20_000
WARM_ROWS = 500
MIN_PASSES = 3


class IngestBatch:
    UNITS = {
        "csv_source.probe_s": "s",
        "csv_source.scan_s": "s",
        "encode.encode_s": "s",
        "encode.bytes_per_row": "B",
        "datum_sink.write_s": "s",
        "datum_sink.files": "count",
        "kafka_source.decode_s": "s",
        "trace.overhead_s": "s",
        **ingest_stream.UNITS,
    }

    def __init__(self, ctx, sessions) -> None:
        self.ctx = ctx
        self.sessions = sessions
        self.landing = ctx.path("landing")
        self.values_path = ctx.path("values.parquet")

    # ------------------------------------------------------------ inputs
    def prepare(self) -> None:
        from data_ingestion_ex8_producer_spark.functions.avro_codec import encode_record
        from data_ingestion_ex8_producer_spark.schemas import FIELD_ORDER

        self.rows = gen.bacen_rows(self.ctx.seed, N_FILES * ROWS_PER_FILE)
        os.makedirs(self.landing)
        for i in range(N_FILES):
            chunk = self.rows[i * ROWS_PER_FILE : (i + 1) * ROWS_PER_FILE]
            gen.write_bacen_csv(os.path.join(self.landing, f"reclamacoes_{i}.csv"), chunk)
        self.expected = [encode_record(dict(zip(FIELD_ORDER, r))) for r in self.rows]
        pq.write_table(
            pa.table({"value": pa.array(self.expected, pa.binary())}),
            self.values_path,
            row_group_size=ROWS_PER_FILE,
        )
        warm_rows = gen.bacen_rows(self.ctx.seed + 1, WARM_ROWS)
        self.warm_landing = self.ctx.path("warm_landing")
        os.makedirs(self.warm_landing)
        gen.write_bacen_csv(os.path.join(self.warm_landing, "warm.csv"), warm_rows)

    # ------------------------------------------------------------ set-up
    def warm_up(self, spark) -> None:
        from data_ingestion_ex8_producer_spark.sinks.datum_sink import AvroDatumDirDataSource
        from data_ingestion_ex8_producer_spark.sinks.encode import avro_value_frame
        from data_ingestion_ex8_producer_spark.sources.csv_source import read_reclamacoes_batch
        from data_ingestion_ex8_producer_spark.sources.kafka_source import decode_value_frame

        spark.dataSource.register(AvroDatumDirDataSource)
        dest = self.ctx.path("warm_out")
        avro_value_frame(read_reclamacoes_batch(spark, self.warm_landing)).write.format(
            "avro_datum_dir"
        ).mode("append").option("path", dest).save()
        decode_value_frame(spark.read.parquet(self.values_path).limit(WARM_ROWS)).write.format(
            "noop"
        ).mode("overwrite").save()
        shutil.rmtree(dest)

    # ------------------------------------------------------------ one op
    def _pass(self, spark, dest: str, group: str) -> tuple[float, float]:
        from data_ingestion_ex8_producer_spark.sinks.encode import avro_value_frame
        from data_ingestion_ex8_producer_spark.sources.csv_source import read_reclamacoes_batch
        from data_ingestion_ex8_producer_spark.sources.kafka_source import decode_value_frame

        tracer = self.ctx.tracer
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        with tracer.span("ingest_pass"):
            with tracer.span("csv_source.read_reclamacoes_batch"):
                bronze = read_reclamacoes_batch(spark, self.landing)
            with tracer.span("datum_sink.save"):
                avro_value_frame(bronze).write.format("avro_datum_dir").mode("append").option(
                    "path", dest
                ).save()
        t1 = time.perf_counter()
        with tracer.span("readback_pass"):
            decode_value_frame(spark.read.parquet(self.values_path)).write.format("noop").mode(
                "overwrite"
            ).save()
        t2 = time.perf_counter()
        return t1 - t0, t2 - t1

    def _passes(self, spark, seconds: float, tag: str) -> tuple[list, list, list[int], str]:
        """Round trips for ``seconds`` (at least MIN_PASSES).  Returns ingest
        times, read-back times, committed row counts per pass and the last
        pass's output directory (earlier outputs are removed untimed)."""
        ingest, readback, committed = [], [], []
        dest = None
        deadline = time.perf_counter() + seconds
        while len(ingest) < MIN_PASSES or time.perf_counter() < deadline:
            if dest is not None:
                shutil.rmtree(dest)
            dest = self.ctx.path(f"out_{tag}_{len(ingest)}")
            t_ingest, t_read = self._pass(spark, dest, f"{tag}:{len(ingest)}")
            ingest.append(t_ingest)
            readback.append(t_read)
            committed.append(_manifest_rows(dest))
        return ingest, readback, committed, dest

    # ------------------------------------------------------------ run
    def run(self) -> dict:
        spark = self.sessions.spark
        if self.ctx.trace:
            # Untraced references before and after the stream phase, in the
            # set-up session; the traced session (event log on) comes last.
            # Two references keep JVM warm-up over the run from passing for
            # tracing overhead.
            self._untraced = [self._reference(spark, "plainA")]
            self._stream = ingest_stream.StreamPhase(self.ctx, self.ctx.seed + 2).run(spark)
            self._untraced.append(self._reference(spark, "plainB"))
            spark = self.sessions.open(event_log=True)
            self.warm_up(spark)
        ingest, readback, committed, last_dest = self._passes(spark, self.ctx.seconds, "pass")
        self._traced = (ingest, readback)
        n_rows = len(self.rows)
        failed = sum(1 for c in committed if c != n_rows)
        correct, detail = self._check(spark, last_dest)
        if not correct:
            failed += 1
        attempted = len(ingest)
        if self.ctx.trace:
            self._prefix = self._prefix_series(spark)
            attempted += ingest_stream.N_FILES
            if self._stream["error"] is None:
                failed += ingest_stream.N_FILES - len(self._stream["latencies"])
            else:
                failed += ingest_stream.N_FILES
                correct, detail = False, self._stream["error"]
        round_trips = [a + b for a, b in zip(ingest, readback)]
        report = {
            "rows": n_rows,
            "input_mb": _dir_bytes(self.landing) / 1e6,
            "round_trip_s": round_trips,
            "ingest_rows_per_s": n_rows / statistics.median(ingest),
            "readback_rows_per_s": n_rows / statistics.median(readback),
            "error_rate": failed / attempted,
            "check": detail,
        }
        if self.ctx.trace:
            # The prefix phases decompose an ingest pass: probe + scan +
            # encode + sink against the timed passes' median.
            report["prefix_phase_sum_s"] = self._prefix["probe"] + self._prefix["sink"]
            report["ingest_pass_median_s"] = statistics.median(ingest)
        return {
            "correct": correct and failed == 0,
            "attempted": attempted,
            "failed": failed,
            "op_p50_s": statistics.median(round_trips),
            "report": report,
        }

    def _reference(self, spark, tag: str) -> float:
        """Median untraced round trip, for the tracing overhead."""
        ingest, readback, _, dest = self._passes(spark, self.ctx.seconds / 2, tag)
        shutil.rmtree(dest)
        return statistics.median(a + b for a, b in zip(ingest, readback))

    # ------------------------------------------------------------ check
    def _check(self, spark, dest: str) -> tuple[bool, str]:
        """Committed datums must be exactly the reference-codec bytes of the
        generated rows (after sanitize and empty→NULL), and must decode back
        to them; the read-back leg must reproduce the same rows."""
        from data_ingestion_ex8_producer_spark.functions.avro_codec import decode_record
        from data_ingestion_ex8_producer_spark.schemas import FIELD_ORDER
        from data_ingestion_ex8_producer_spark.sinks.datum_sink import read_datum_file
        from data_ingestion_ex8_producer_spark.sources.kafka_source import decode_value_frame

        datums: list[bytes] = []
        for name in _manifest(dest):
            datums.extend(read_datum_file(os.path.join(dest, name)))
        if Counter(datums) != Counter(self.expected):
            return False, "committed datums differ from encode_record of the generated rows"
        by_bytes = dict(zip(self.expected, self.rows))
        for datum in set(datums):
            decoded = decode_record(datum)
            if tuple(decoded[f] for f in FIELD_ORDER) != by_bytes[datum]:
                return False, "decode_record does not reproduce a generated row"
        decoded_rows = decode_value_frame(spark.read.parquet(self.values_path)).toPandas()
        got = Counter(decoded_rows[FIELD_ORDER].itertuples(index=False, name=None))
        if got != Counter(self.rows):
            return False, "decode_value_frame does not reproduce the generated rows"
        return True, f"{len(datums)} datums byte-exact; read-back rows match"

    # ------------------------------------------------------------ trace
    def _prefix_series(self, spark) -> dict:
        from data_ingestion_ex8_producer_spark.sinks.encode import avro_value_frame
        from data_ingestion_ex8_producer_spark.sources.csv_source import read_reclamacoes_batch
        from data_ingestion_ex8_producer_spark.sources.kafka_source import decode_value_frame

        tracer = self.ctx.tracer

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def timed(name: str, fn) -> float:
            spark.sparkContext.setJobGroup(f"prefix:{name}", name)
            t0 = time.perf_counter()
            with tracer.span(f"prefix.{name}"):
                fn()
            return time.perf_counter() - t0

        out: dict = {}
        holder: dict = {}
        out["probe"] = timed(
            "probe", lambda: holder.update(bronze=read_reclamacoes_batch(spark, self.landing))
        )
        bronze = holder["bronze"]
        out["scan"] = timed("scan", lambda: noop(bronze))
        out["encode"] = timed("encode", lambda: noop(avro_value_frame(bronze)))
        dest = self.ctx.path("prefix_out")
        out["sink"] = timed(
            "sink",
            lambda: avro_value_frame(bronze).write.format("avro_datum_dir").mode("append")
            .option("path", dest).save(),
        )
        out["bytes"] = _dir_bytes(dest)
        out["files"] = len(_manifest(dest))
        shutil.rmtree(dest)
        values = spark.read.parquet(self.values_path)
        out["read"] = timed("read", lambda: noop(values))
        out["decode"] = timed("decode", lambda: noop(decode_value_frame(values)))
        return out

    def layers(self, event_logs: list[str]) -> dict:
        p = self._prefix
        n_rows = len(self.rows)
        probe, scan, encode, sink = p["probe"], p["scan"], p["encode"], p["sink"]
        traced_op = statistics.median(a + b for a, b in zip(*self._traced))
        return {
            "csv_source.probe_s": probe,
            "csv_source.scan_s": scan,
            "encode.encode_s": encode - scan,
            "encode.bytes_per_row": (p["bytes"] - 4 * n_rows) / n_rows,
            "datum_sink.write_s": sink - encode,
            "datum_sink.files": p["files"],
            "kafka_source.decode_s": p["decode"] - p["read"],
            "trace.overhead_s": traced_op - statistics.mean(self._untraced),
            **ingest_stream.layers(self._stream),
        }


def _manifest(directory: str) -> list[str]:
    with open(os.path.join(directory, "_SUCCESS"), encoding="utf-8") as fh:
        return [line.split("\t")[0] for line in fh if line.strip()]


def _manifest_rows(directory: str) -> int:
    with open(os.path.join(directory, "_SUCCESS"), encoding="utf-8") as fh:
        return sum(int(line.split("\t")[1]) for line in fh if line.strip())


def _dir_bytes(directory: str) -> int:
    return sum(
        os.path.getsize(os.path.join(directory, f))
        for f in os.listdir(directory)
        if not f.startswith("_")
    )
