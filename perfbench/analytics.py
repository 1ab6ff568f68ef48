"""``analytics_sf0.01``: the operator and planner layers, no ingest layer.

The 35 queries of the headline set are listed here by name (not read from
``spec.bench``), and the run fails if the registry lacks any of them.  Each
pass runs one representative per operator module that owns headline
queries (11 modules) and collects its result, clearing the cache after each
query.  One operation is one pass; its time is the sum of each query's
``builder()`` call and ``collect()``.  A session's first pass is checked but
not timed as an operation (see ``_passes``).

Inputs are generated from the seed, at scale factor ``SF``, with the table
shapes of the repository's test data (TESTDATA.md).  Every collected result
is compared, outside the timed region, with its DuckDB oracle (row count and
order-insensitive value hash, via ``tools/check_correctness``); a spec
without an oracle gets a rows-only check.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

import gen
from measure import geomean, merge_totals, parse_event_log

SF = 0.01
MIN_PASSES = 2

HEADLINE = (
    "sim_ivf_topk", "sim_ivfpq_topk", "sim_ivfpq_residual_topk", "q_semantic_dedup",
    "mm_decode_meta", "q3_shipping_priority", "q_window_rank", "q_tumbling_window",
    "dedup_minhash_lsh", "q_quality_classifier", "q1_pricing_summary",
    "q_revenue_by_nation", "q5_region_revenue", "q_agg_distinct",
    "q18_large_volume_customer", "q21_waiting_supplier", "q10_returned_items",
    "q_pareto_frontier", "q_customer_rfm", "q_part_pagerank", "q_event_path_mining",
    "dedup_ngram_jaccard", "dedup_simhash", "q_kmv_sketch_setops", "text_tfidf",
    "q_doc_ngram_novelty", "q_span_dedup", "sim_bruteforce_topk", "sim_lsh_topk",
    "sim_pq_adc_topk", "q_kmeans_iterations", "sim_sq8_topk", "q_curation_funnel",
    "q_concat_chunk_packing", "q_stratified_sample",
)

# Operator module -> the headline query that represents it in each pass.
REPRESENTATIVES = {
    "relational": "q1_pricing_summary",
    "tpch": "q18_large_volume_customer",
    "advanced": "q3_shipping_priority",
    "windows": "q_window_rank",
    "events": "q_tumbling_window",
    "analytics_ext": "q_customer_rfm",
    "dedup": "dedup_simhash",
    "textops": "text_tfidf",
    "similarity": "sim_sq8_topk",
    "multimodal": "mm_decode_meta",
    "pipeline": "q_curation_funnel",
}
WARM_QUERY = "q1_pricing_summary"

MODULE_METRICS = {
    "exec_s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "cpu_s": "s", "shuffle_bytes": "B", "spill_bytes": "B", "gc_s": "s",
}


def _load_check_correctness(root: str):
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("perfbench_check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class Analytics:
    UNITS = {
        "registry.build_s": "s",
        "registry.eager_jobs": "count",
        "operators.first_pass_s": "s",
        **{f"{mod}.{key}": unit for mod in REPRESENTATIVES for key, unit in MODULE_METRICS.items()},
        "trace.overhead_s": "s",
    }

    def __init__(self, ctx, sessions) -> None:
        self.ctx = ctx
        self.sessions = sessions
        self.data = ctx.path("data")

    def prepare(self) -> None:
        from data_ingestion_ex8_producer_spark.plans.registry import all_specs

        specs = all_specs()
        missing = [name for name in HEADLINE if name not in specs]
        if missing:
            raise RuntimeError(f"headline queries missing from the registry: {missing}")
        for module, name in REPRESENTATIVES.items():
            owner = specs[name].builder.__module__.rsplit(".", 1)[-1]
            if name not in HEADLINE or owner != module:
                raise RuntimeError(f"{name} does not represent module {module} (owner {owner})")
        self.specs = {name: specs[name] for name in REPRESENTATIVES.values()}
        gen.write_star_schema(self.data, self.ctx.seed, SF)

    def warm_up(self, spark) -> None:
        self.specs[WARM_QUERY].builder(spark, self.data).collect()
        spark.catalog.clearCache()

    # ------------------------------------------------------------ passes
    def _pass(self, spark, tag: str) -> dict:
        sc = spark.sparkContext
        tracer = self.ctx.tracer
        out = {"build": {}, "exec": {}, "eager_jobs": 0, "failed": [], "wrong": []}
        with tracer.span("analytics.pass", tag=tag):
            for name, spec in self.specs.items():
                try:
                    sc.setJobGroup(f"build:{name}:{tag}", name)
                    t0 = time.perf_counter()
                    with tracer.span("registry.builder", query=name):
                        df = spec.builder(spark, self.data)
                    t1 = time.perf_counter()
                    sc.setJobGroup(f"exec:{name}:{tag}", name)
                    with tracer.span("operators.collect", query=name):
                        rows = df.collect()
                    t2 = time.perf_counter()
                except Exception as exc:  # noqa: BLE001 — a failed query is a failed op
                    out["failed"].append(f"{name}: {exc}"[:300])
                    continue
                finally:
                    spark.catalog.clearCache()
                out["build"][name] = t1 - t0
                out["exec"][name] = t2 - t1
                out["eager_jobs"] += len(sc.statusTracker().getJobIdsForGroup(f"build:{name}:{tag}"))
                if not self._matches(name, list(df.columns), rows):
                    out["wrong"].append(name)
        return out

    def _passes(self, spark, prefix: str) -> tuple[dict, list[dict]]:
        """One first pass, then timed passes for ``--seconds`` (at least
        MIN_PASSES).  The first pass in a session pays each query's
        first-use costs (code generation, Python workers), so it is checked
        and reported but not part of the operation time."""
        first = self._pass(spark, f"{prefix}first")
        passes = []
        deadline = time.perf_counter() + self.ctx.seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
            passes.append(self._pass(spark, f"{prefix}{len(passes)}"))
        return first, passes

    @staticmethod
    def _pass_time(p: dict) -> float:
        return sum(p["build"].values()) + sum(p["exec"].values())

    def run(self) -> dict:
        spark = self.sessions.spark
        self._oracles = self._oracle_fingerprints()
        if self.ctx.trace:
            # Untraced reference in the set-up session, then the traced
            # session (event log on), each with its own first pass.
            self._untraced = self._passes(spark, "plain")[1]
            spark = self.sessions.open(event_log=True)
            self.warm_up(spark)
        first, passes = self._passes(spark, "pass")
        self._first, self._traced = first, passes
        checked = [first, *passes]
        attempted = len(checked) * len(self.specs)
        failed = sum(len(p["failed"]) + len(p["wrong"]) for p in checked)
        per_query = {
            name: statistics.median(p["build"][name] + p["exec"][name] for p in passes)
            for name in self.specs
            if all(name in p["exec"] for p in passes)
        }
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "op_p50_s": statistics.median(self._pass_time(p) for p in passes),
            "report": {
                "sf": SF,
                "first_pass_s": self._pass_time(first),
                "pass_s": [self._pass_time(p) for p in passes],
                "query_s": per_query,
                "query_geomean_s": geomean(list(per_query.values())),
                "error_rate": failed / attempted,
                "errors": [e for p in checked for e in p["failed"]],
                "wrong": sorted({w for p in checked for w in p["wrong"]}),
            },
        }

    # ------------------------------------------------------------ check
    def _oracle_fingerprints(self) -> dict:
        """DuckDB oracle fingerprint per query (None for a spec without one)."""
        import duckdb

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self._cc = _load_check_correctness(root)
        out = {}
        with duckdb.connect() as con:
            for table in self._cc.TABLES:
                con.execute(
                    f"CREATE VIEW {table} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{table}.parquet')"
                )
            for name, spec in self.specs.items():
                if spec.oracle is None:
                    out[name] = None
                    continue
                cur = con.execute(spec.oracle)
                out[name] = self._cc.frame_fingerprint(
                    [d[0] for d in cur.description], cur.fetchall()
                )
        return out

    def _matches(self, name: str, columns: list[str], rows: list) -> bool:
        """Row count + order-insensitive value hash against the oracle, or a
        non-empty result for a spec without one."""
        want = self._oracles[name]
        if want is None:
            return len(rows) > 0
        return self._cc.frame_fingerprint(columns, [tuple(r) for r in rows]) == want

    # ------------------------------------------------------------ trace
    def layers(self, event_logs: list[str]) -> dict:
        groups = parse_event_log(event_logs[-1])
        passes = self._traced
        n = len(passes)
        out = {
            "registry.build_s": statistics.median(sum(p["build"].values()) for p in passes),
            "registry.eager_jobs": sum(p["eager_jobs"] for p in passes) / n,
        }
        for module, name in REPRESENTATIVES.items():
            totals = merge_totals(
                [groups.get(f"exec:{name}:pass{i}", {}) for i in range(n)]
            )
            out[f"{module}.exec_s"] = statistics.median(p["exec"][name] for p in passes)
            out[f"{module}.jobs"] = totals["jobs"] / n
            out[f"{module}.stages"] = totals["stages"] / n
            out[f"{module}.tasks"] = totals["tasks"] / n
            out[f"{module}.cpu_s"] = totals["cpu_s"] / n
            out[f"{module}.shuffle_bytes"] = totals["shuffle_write_bytes"] / n
            out[f"{module}.spill_bytes"] = totals["spill_bytes"] / n
            out[f"{module}.gc_s"] = totals["gc_s"] / n
        out["operators.first_pass_s"] = self._pass_time(self._first)
        out["trace.overhead_s"] = statistics.median(
            self._pass_time(p) for p in passes
        ) - statistics.median(self._pass_time(p) for p in self._untraced)
        return out
