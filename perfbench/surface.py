"""``surface``: warm passes over a fixed subset of the declared queries.

Four are barrier-bound queries ROADMAP item 2 targets, which fire Spark
jobs while their plan is built; five are controls whose build fires
none, one each for aggregation, window, join, text and geo. Each query is
built (``QUERIES[name](spark, sf_dir)``) and forced with the noop sink,
with ``bench.py``'s query-boundary hygiene (clear cache, release
checkpoints, JVM GC) between queries, outside the timed part.

Setup is the cold pass: it builds every artifact into the run's fresh
``CDC_ARTIFACT_DIR`` and keeps each result. After the timed passes,
each query runs once more on the warm path the timed passes took
(artifacts reused) and that result is kept too. Both the cold and the
warm result are checked against ``ORACLE_SQL`` on DuckDB, hashed by
``scripts/driver_sim.py``'s pandas canonicaliser.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random

from cdc_makanmana_spark.plans.queries import ORACLE_SQL, QUERIES
from cdc_makanmana_spark.session import release_materialized

from perfbench.harness import median, tree_cpu_s
from perfbench.reference import result_matches

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = [f[: -len(".parquet")] for f in sorted(os.listdir(SF_DIR)) if f.endswith(".parquet")]

BARRIER = [
    "q87_personalized_pagerank",  # q77's PageRank loop, seeded
    "q37_duplicate_clusters",
    "q76_knn_graph",
    "q23_minhash_lsh_neardup",
]
CONTROL = [
    "q01_pricing_summary",  # aggregation
    "q09_running_revenue",  # window
    "q03_region_nation_revenue",  # join
    "q12_search_documents",  # text
    "q13_radius_customers",  # geo
]


def short(name: str) -> str:
    return name.split("_", 1)[0]


def _canonical_hash():
    """``pandas_hash`` from ``scripts/driver_sim.py`` in this checkout."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "driver_sim", os.path.join(root, "scripts", "driver_sim.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.pandas_hash


class Surface:
    def __init__(self, spark, dirs, tracer, seed: int):
        self.spark, self.tracer = spark, tracer
        self.order = BARRIER + CONTROL
        random.Random(seed).shuffle(self.order)
        self.cold = {}
        for name in self.order:
            self.cold[name] = QUERIES[name](spark, SF_DIR).toPandas()
            self._boundary()
        self.passes: list[dict] = []

    def _boundary(self) -> None:
        self.spark.catalog.clearCache()
        release_materialized(self.spark)
        self.spark._jvm.System.gc()

    def _query(self, name: str) -> dict:
        tr = self.tracer
        gc0 = tr.gc_ms() if tr.enabled else 0
        cpu0 = tree_cpu_s()
        with tr.span(f"surface.{short(name)}", counts=False) as top:
            with tr.span("plans.build", top["id"]) as b:
                df = QUERIES[name](self.spark, SF_DIR)
            with tr.span("exec.noop", top["id"]) as x:
                df.write.format("noop").mode("overwrite").save()
        cpu = tree_cpu_s() - cpu0
        gc = tr.gc_ms() - gc0 if tr.enabled else 0
        self._boundary()
        return {"wall_s": top["wall_s"], "cpu_s": cpu, "gc_ms": gc, "build": b, "exec": x}

    def unit(self, k: int) -> tuple[float, float]:
        """One timed pass over the subset; returns the summed (wall,
        CPU) seconds of its queries (the boundary hygiene is not
        timed). Each query runs twice in a row and the faster run
        counts, as ``bench.py`` keeps the fastest of its passes: a host
        stall shorter than a query then does not reach the result."""
        p = {}
        for name in self.order:
            p[name] = min(self._query(name), self._query(name), key=lambda r: r["wall_s"])
        self.passes.append({"unit": k, "traced": self.tracer.enabled, "queries": p})
        return sum(q["wall_s"] for q in p.values()), sum(q["cpu_s"] for q in p.values())

    def check(self) -> tuple[int, int]:
        """(attempted, failed): each query's cold-pass result and its
        warm result, collected after the timed passes, against its
        oracle."""
        import duckdb

        warm = {}
        for name in self.order:
            warm[name] = QUERIES[name](self.spark, SF_DIR).toPandas()
            self._boundary()

        pandas_hash = _canonical_hash()
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
            )
        failed = 0
        for name in self.order:
            want = con.execute(ORACLE_SQL[name]).df()
            for got in (self.cold[name], warm[name]):
                failed += not result_matches(got, want, pandas_hash)
        con.close()
        return 2 * len(self.order), failed

    def latency(self, keep: set[int]) -> tuple[float, dict]:
        """Geometric mean (ms) over the subset of each query's median
        wall in the units in ``keep``, and the report. A geometric mean,
        not a median: the barrier-bound and control queries form two
        latency modes an order of magnitude apart, and a median of the
        nine would sit on the gap between them."""
        plain = [p["queries"] for p in self.passes if p["unit"] in keep]
        per_query = {short(n): median([p[n]["wall_s"] for p in plain]) for n in self.order}
        gmean_ms = 1000 * math.exp(sum(math.log(v) for v in per_query.values()) / len(per_query))
        return gmean_ms, {"passes": len(plain), "query_s": per_query}

    def layers(self) -> dict:
        cores = self.spark.sparkContext.defaultParallelism
        traced = [p["queries"] for p in self.passes if p["traced"]]
        last = traced[-1]
        out: dict = {}
        for name in self.order:
            qs = [p[name] for p in traced]
            q = short(name)
            out[f"surface.{q}.build_s"] = median([r["build"]["wall_s"] for r in qs])
            out[f"surface.{q}.exec_s"] = median([r["exec"]["wall_s"] for r in qs])
            out[f"surface.{q}.build_jobs"] = last[name]["build"]["jobs"]
            out[f"surface.{q}.stages"] = last[name]["build"]["stages"] + last[name]["exec"]["stages"]
        for group, names in (("barrier", BARRIER), ("control", CONTROL)):
            out[f"surface.{group}.build_jobs"] = sum(last[n]["build"]["jobs"] for n in names)
        out["surface.build_jobs"] = sum(r["build"]["jobs"] for r in last.values())
        out["surface.stages"] = sum(r["build"]["stages"] + r["exec"]["stages"] for r in last.values())
        busy_ms = sum(r["build"]["executor_run_ms"] + r["exec"]["executor_run_ms"] for r in last.values())
        wall = sum(r["wall_s"] for r in last.values())
        out["surface.utilisation"] = busy_ms / 1000 / (wall * cores)
        # GC inside the timed queries only, not the explicit GC between them
        out["jvm.gc_ms"] = median([sum(q["gc_ms"] for q in p.values()) for p in traced])
        return out
