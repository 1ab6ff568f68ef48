"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 20 --trace 0

Runs one workload from the root of a checkout and prints, as its last line,
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  Everything the run writes — generated inputs, Spark's
stderr log (``spark.log``), spans, the event log and a ``result.json`` with
the full detail — lands under ``perfbench/.run/<workload>-seed<n>-trace<t>/``.

The benchmark builds its Spark session through the engine's
``build_session`` with ``SPARK_GRAFT_CPUS`` set to the usable core count,
and refuses to run unless the session's master is ``local[<cores>]``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest_batch", "analytics_sf0.01")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def _prepare_env(out_dir: str) -> None:
    """Point every temporary location at the run directory and pin the core
    count, before pyspark is imported or the JVM starts."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(out_dir, "tmp")
    # The JVM that spark-submit uses to assemble the Spark JVM's command line.
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    # Python workers import the engine by module path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if args.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    out_dir = os.path.join(
        HERE, ".run", f"{args.workload}-seed{args.seed}-trace{args.trace}"
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    _prepare_env(out_dir)

    # Spark's stderr (and ours) goes to a log beside the results, so JVM
    # warnings never mix with the metrics record on stdout.
    console = os.fdopen(os.dup(2), "w")
    log_path = os.path.join(out_dir, "spark.log")
    with open(log_path, "ab") as log:
        os.dup2(log.fileno(), 2)
    try:
        from harness import Context, run_workload

        ctx = Context(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            out_dir=out_dir,
        )
        result = run_workload(ctx)
    except Exception:  # noqa: BLE001 — report and exit non-zero, no result line
        traceback.print_exc()
        sys.stderr.flush()
        console.write(traceback.format_exc())
        console.write(f"benchmark failed; Spark log: {log_path}\n")
        console.flush()
        return 1

    with open(os.path.join(out_dir, "result.json"), "w", encoding="utf-8") as fh:
        json.dump(result, fh, indent=2, sort_keys=True)
    for name, value in sorted(result["report"].items()):
        print(f"# {name} = {value}")
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": result["metrics"],
    }))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
