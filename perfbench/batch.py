"""batch: the nightly job, corpus_build then score_batch, pass after pass.

One pass dedups, embeds and writes the seeded corpus (corpus_build.py)
and then scores the seeded resumes (score_batch.py); every pass is
checked. Set-up is one cold warm-up pass over a quarter of each input:
a pass costs as much as a timed one, so it is not repeated.
"""

from __future__ import annotations

import time

from corpus_build import CorpusBuild
from harness import Workload as Base
from harness import median
from score_batch import ScoreBatch


class Workload(Base):
    setup_reps = 1

    def __init__(self, ctx):
        self.tracer = ctx.tracer
        self.parts = (CorpusBuild(ctx), ScoreBatch(ctx))

    def setup_once(self) -> None:
        for part in self.parts:
            part.warm()

    def measure(self, seconds: float) -> tuple[list[float], int]:
        """Passes until the next one would overrun the window; at least one.
        The unit of throughput is an input row: a document or a resume."""
        lat: list[float] = []
        rows = 0
        deadline = time.perf_counter() + seconds
        while not lat or time.perf_counter() + median(lat) <= deadline:
            t0 = time.perf_counter()
            with self.tracer.span("pass", rid=len(lat)):
                rows += sum(part.timed_pass() for part in self.parts)
            lat.append(time.perf_counter() - t0)
        return lat, rows

    def check(self) -> tuple[int, int]:
        return (
            sum(p.attempted for p in self.parts),
            sum(p.failed for p in self.parts),
        )

    def layers(self, self_times: dict, spark_metrics: dict) -> dict:
        return {k: v for part in self.parts for k, v in part.layers(self_times).items()}
