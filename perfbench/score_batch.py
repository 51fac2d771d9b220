"""score_batch: the /result scorer over a batch of resumes, second half
of a batch pass.

A pass runs chunk_by_section → assemble_prompt → llm_transform(stub)
→ parse_scores → mean_score over the seeded resumes and is checked: one score per resume that has
a known section, every score in [0, 10], and the same order-free output
hash on every pass.
"""

from __future__ import annotations

import gen
from harness import materialize, median

N_RESUMES = 10_000
N_FILES = 8


class ScoreBatch:
    def __init__(self, ctx):
        self.ctx = ctx
        self.n = max(100, int(N_RESUMES * ctx.size))
        table, self.jd, self.n_scored = gen.resumes(ctx.seed, self.n)
        self.src = f"{ctx.work}/resumes"
        gen.write_parts(table, self.src, N_FILES)
        self.warm_src = f"{ctx.work}/resumes_warm"
        gen.write_parts(table.slice(0, self.n // 4), self.warm_src, N_FILES)
        self.hashes: set[int] = set()
        self.attempted = self.failed = 0
        self.stats: dict[str, list[float]] = {}

    def _pipeline(self, src: str, held: list):
        from resume_jd_matcher_spark.functions.parsing import (
            assemble_prompt,
            mean_score,
            parse_scores,
        )
        from resume_jd_matcher_spark.operators.scoring import llm_transform
        from resume_jd_matcher_spark.operators.sectioner import chunk_by_section

        tr = self.ctx.tracer
        resumes = materialize(tr, self.ctx.spark.read.parquet(src), held)
        with tr.span("sectioner"):
            sections = materialize(tr, chunk_by_section(resumes), held)
        with tr.span("parsing.prompt"):
            prompts = materialize(tr, assemble_prompt(sections, self.jd), held)
        with tr.span("scoring.llm"):
            replies = materialize(tr, llm_transform(prompts, task="score_prompt"), held)
        with tr.span("parsing.parse"):
            scores = materialize(tr, mean_score(parse_scores(replies)), held)
        if tr.enabled:
            n_sections = sections.count()
            self.stats.setdefault("sectioner.sections_per_resume", []).append(
                n_sections / self.n
            )
            self.stats.setdefault("scoring.rows", []).append(replies.count())
        return scores

    def _pass(self, src: str) -> tuple:
        """One pass; the sink folds the scores into a row count, an
        order-free hash and the score range, so every pass is checked
        without collecting its rows."""
        from pyspark.sql import functions as F

        held: list = []
        with self.ctx.tracer.span("score_batch"):
            scores = self._pipeline(src, held)
            with self.ctx.tracer.span("sink"):
                summary = scores.agg(
                    F.count("*"),
                    F.countDistinct("doc_id"),
                    F.bit_xor(F.xxhash64("doc_id", "final_score")),
                    F.min("final_score"),
                    F.max("final_score"),
                ).first()
        for df in held:
            df.unpersist()
        return tuple(summary)

    def warm(self) -> None:
        self._pass(self.warm_src)

    def timed_pass(self) -> int:
        """One checked pass over the resumes; returns the resumes read."""
        rows, distinct, digest, lo, hi = self._pass(self.src)
        self.hashes.add(digest)
        self.attempted += 1
        self.failed += not (
            rows == distinct == self.n_scored
            and 0.0 <= lo <= hi <= 10.0
            and len(self.hashes) == 1
        )
        return self.n

    def layers(self, self_times: dict) -> dict:
        out = {k: median(v) for k, v in self.stats.items()}
        out["sectioner.s"] = median(self_times.get("sectioner", []))
        for name in ("scoring.llm", "parsing.prompt", "parsing.parse"):
            out[f"{name}_s"] = median(self_times.get(name, []))
        return out
