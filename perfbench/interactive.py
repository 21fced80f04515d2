"""EP1: keystroke sessions over a served snapshot.

A ``Session`` replays seeded script passes (``gen.keystroke_pass``) as
one closed-loop client: ``search → filter → page_after(None)`` per
keystroke, and load-more as ``page_after(last_row)`` on the engine the
earlier request built, so a load-more shares that request's work
(including a postal lookup's geocode). Every response is checked,
outside the timed part, against the pandas reference over the same
snapshot.
"""

from __future__ import annotations

import time

from cdc_makanmana_spark.engine import MakanmanaEngine

from perfbench import gen
from perfbench.harness import median, tail_percentile, tree_cpu_s
from perfbench.reference import InteractiveReference

BLOCKS_PER_PASS = 3  # 30 requests: 21 text, 6 fresh postal lookups, 3 load-more


class Session:
    def __init__(self, tracer, seed: int, postal_pd, postal_df):
        self.tracer, self.seed = tracer, seed
        self.postal_pd, self.postal = postal_pd, postal_df
        self.log: list[dict] = []
        self.gc_ms: dict[int, int] = {}  # traced pass -> GC ms inside it
        self.attempted = 0
        self.failed = 0

    def serve(self, snapshot_df, snapshot_pd) -> None:
        """Serve a freshly loaded snapshot; ``snapshot_pd`` is the
        generator's bronze view of it, which the script draws its
        words and postal codes from."""
        self.base = MakanmanaEngine(snapshot_df)
        self.snapshot_pd = snapshot_pd
        self.ref = InteractiveReference(snapshot_df.toPandas(), self.postal_pd)

    def _request(self, req: dict, built: dict, i: int) -> tuple[list, dict]:
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span(f"request.{req['kind']}", counts=False) as top:
            if req["kind"] == "more":
                eng, prev = built[req["after"]]
                with tr.span("engine.build", top["id"]) as b:
                    page = eng.page_after(prev[-1] if prev else None)
            else:
                with tr.span("engine.build", top["id"]) as b:
                    eng = self.base.search(req["term"], postal_dim=self.postal)
                    eng = eng.filter(category=req["category"], halal_only=req["halal"])
                    page = eng.page_after(None)
            if tr.enabled:
                with tr.span("catalyst.plan", top["id"]) as p:
                    page.df._jdf.queryExecution().executedPlan()
            with tr.span("exec.collect", top["id"]) as x:
                rows = page.df.collect()
        built[i] = (eng, rows)
        timing = {"ms": (time.perf_counter() - t0) * 1000, "build": b, "collect": x}
        if tr.enabled:
            timing["plan"] = p
        return rows, timing

    def run_pass(
        self, pass_no: int, blocks: int = BLOCKS_PER_PASS, record: bool = True
    ) -> tuple[float, float]:
        """One script pass; returns its (wall, CPU) seconds. A recorded
        pass is logged and checked after the timing."""
        script = gen.keystroke_pass(self.seed, pass_no, self.snapshot_pd, blocks)
        built: dict[int, tuple] = {}
        done = []
        tr = self.tracer
        gc0 = tr.gc_ms() if tr.enabled else 0
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        for i, req in enumerate(script):
            done.append((req, *self._request(req, built, i)))
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - cpu0
        if tr.enabled:
            self.gc_ms[pass_no] = tr.gc_ms() - gc0
        if record:
            for req, rows, timing in done:
                after = None
                if req["kind"] == "more":
                    prev = built[req["after"]][1]
                    # a load-more after an empty page pages from the start
                    after = prev[-1]["id"] if prev else None
                self.attempted += 1
                self.failed += self.ref.expected_page(req, after) != [r["id"] for r in rows]
                self.log.append({**req, **timing, "unit": pass_no, "traced": self.tracer.enabled})
        return wall, cpu

    def report(self, keep: set[int]) -> dict:
        """Request figures over the passes in ``keep``."""
        plain = [r for r in self.log if r["unit"] in keep]
        lat = [r["ms"] for r in plain]
        try:
            p95 = tail_percentile(lat, 95)
        except ValueError:
            p95 = None  # fewer than ten requests beyond it
        out = {"requests": len(lat), "latency_p50_ms": median(lat), "latency_p95_ms": p95}
        for kind in ("text", "geo", "more"):
            out[f"{kind}_latency_p50_ms"] = median([r["ms"] for r in plain if r["kind"] == kind])
        return out

    def layers(self) -> dict:
        """Per-request medians and means over the traced passes."""
        log = [r for r in self.log if r["traced"]]
        text = [r for r in log if r["kind"] != "geo"]
        geo = [r for r in log if r["kind"] == "geo"]
        out = {
            "engine.build_ms": median([r["build"]["wall_s"] * 1000 for r in text]),
            "engine.build_jobs": sum(r["build"]["jobs"] for r in text) / len(text),
            "geo.build_ms": median([r["build"]["wall_s"] * 1000 for r in geo]),
            "geo.build_jobs": sum(r["build"]["jobs"] for r in geo) / len(geo),
            "catalyst.plan_ms": median([r["plan"]["wall_s"] * 1000 for r in log]),
            "exec.collect_ms": median([r["collect"]["wall_s"] * 1000 for r in log]),
        }
        for k in ("jobs", "stages", "tasks"):
            out[f"exec.{k}"] = sum(r["collect"][k] for r in log) / len(log)
        return out
