"""``lifecycle``: the reference app's day, EP3 → EP2 → EP1.

One timed unit is a nightly refresh cycle (``refresh.Refresh``), the
cold read of the snapshot it saved, and one keystroke script pass
(``interactive.Session``) served from that snapshot. Setup lands the
initial snapshot, runs one warm cycle and warms every request class
(text, postal lookup, load-more) before anything is timed.
"""

from __future__ import annotations

from perfbench import gen
from perfbench.harness import median
from perfbench.interactive import Session
from perfbench.refresh import Refresh


class Lifecycle:
    def __init__(self, spark, dirs, tracer, seed: int):
        enabled, tracer.enabled = tracer.enabled, False
        self.refresh = Refresh(spark, dirs, tracer, seed)
        postal = gen.postal_dim(seed)
        postal.to_parquet(dirs.path("data", "postal.parquet"), index=False)
        self.session = Session(
            tracer, seed, postal, spark.read.parquet(dirs.path("data", "postal.parquet"))
        )
        self.session.serve(self.refresh.cache.load(), self.refresh.snapshot)
        self.session.run_pass(-1, blocks=1, record=False)
        tracer.enabled = enabled

    def unit(self, k: int) -> tuple[float, float]:
        """Cycle + cold read + script pass; returns their summed (wall,
        CPU) seconds (the output checks in between are not timed)."""
        rec = self.refresh.advance(record=True, unit=k)
        self.session.serve(rec["snap"], self.refresh.snapshot)
        wall, cpu = self.session.run_pass(k)
        return rec["cycle_s"] + rec["first_page_ms"] / 1000 + wall, rec["cpu_s"] + cpu

    def check(self) -> tuple[int, int]:
        """(attempted, failed) over every checked output: per cycle the
        merge target and the first page, per request its page."""
        return (
            self.refresh.attempted + self.session.attempted,
            self.refresh.failed + self.session.failed,
        )

    def latency(self, keep: set[int]) -> tuple[float, dict]:
        """Median EP1 request latency (ms) over the units in ``keep``,
        and the full report."""
        report = {**self.refresh.report(keep), **self.session.report(keep)}
        return report["latency_p50_ms"], report

    def layers(self) -> dict:
        """Per-layer figures of the traced units; ``jvm.gc_ms`` is the
        median over them of the GC inside each unit's timed parts."""
        gc = [c["gc_ms"] + self.session.gc_ms[c["unit"]] for c in self.refresh.cycles if c["traced"]]
        return {**self.refresh.layers(), **self.session.layers(), "jvm.gc_ms": median(gc)}
