"""corpus_build: the nightly dedup + embed job, first half of a batch pass.

A pass reads the seeded corpus cold from parquet, then runs
dedup_exact → minhash_lsh_candidates → dedup_clusters → keep the
cluster representatives → embed_documents → write_parquet, and is
checked from the ids it wrote (see ``_check_output``).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import gen
from harness import materialize, median

N_DOCS = 3_000
N_FILES = 8
DIM = 384
JACCARD = 0.7  # candidate pairs below this estimated Jaccard are not duplicates
MIN_RECALL = 0.9


class CorpusBuild:
    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = max(200, int(N_DOCS * ctx.size))
        table, self.near_pairs, self.exact_pairs = gen.corpus(ctx.seed, self.n_docs)
        self.src = f"{ctx.work}/corpus_in"
        self.input_bytes = gen.write_parts(table, self.src, N_FILES)
        self.input_ids = set(table.column("doc_id").to_pylist())
        # Set-up warms up on a quarter of the corpus, split like the
        # corpus so that every worker slot gets warm.
        self.warm_src = f"{ctx.work}/corpus_warm"
        gen.write_parts(table.slice(0, self.n_docs // 4), self.warm_src, N_FILES)
        self.out = f"{ctx.work}/corpus_out"
        self.failed = 0
        self.attempted = 0
        self.stats: dict[str, list[float]] = {}

    def _pass(self, src: str) -> None:
        from pyspark.sql import functions as F

        from resume_jd_matcher_spark.operators import dedup
        from resume_jd_matcher_spark.operators.cluster import dedup_clusters
        from resume_jd_matcher_spark.operators.embedding import embed_documents
        from resume_jd_matcher_spark.sources.io import write_parquet

        spark, tr, ctr = self.ctx.spark, self.ctx.tracer, self.ctx.counters
        held: list = []
        shutil.rmtree(self.out, ignore_errors=True)
        with tr.span("corpus_build"):
            docs = materialize(tr, spark.read.parquet(src), held)
            with tr.span("dedup.exact"):
                reps = dedup.dedup_exact(docs)
                uniq = docs.join(
                    reps.select(F.col("rep_doc_id").alias("doc_id")), "doc_id", "left_semi"
                )
                uniq = materialize(tr, uniq, held)
            with tr.span("dedup.minhash_lsh"):
                cands = materialize(tr, dedup.minhash_lsh_candidates(uniq), held)
            edges = cands.filter(F.col("est_jaccard") >= JACCARD)
            jobs0 = ctr.snapshot()["jobs"] if tr.enabled else 0
            with tr.span("cluster"):
                clusters = materialize(tr, dedup_clusters(edges), held)
            cluster_jobs = ctr.snapshot()["jobs"] - jobs0 if tr.enabled else 0
            dropped = clusters.filter(F.col("doc_id") != F.col("cluster_rep")).select("doc_id")
            keep = uniq.join(dropped, "doc_id", "left_anti")
            with tr.span("embedding.docs"):
                emb = materialize(tr, embed_documents(keep, dim=DIM), held)
            with tr.span("io.write"):
                write_parquet(emb, self.out)
        if tr.enabled:
            n_cands = cands.count()
            self.stats.setdefault("dedup.candidates", []).append(n_cands)
            self.stats.setdefault("dedup.lsh_precision", []).append(
                edges.count() / n_cands if n_cands else 0.0
            )
            self.stats.setdefault("cluster.edges", []).append(edges.count())
            self.stats.setdefault("cluster.jobs", []).append(cluster_jobs)
        dedup.release_persisted()
        for df in held:
            df.unpersist()

    def _check_output(self) -> bool:
        """Check one pass from what it wrote: ids are distinct input ids,
        no exact copy survives beside its original, at least MIN_RECALL of
        the planted near-duplicate pairs lost a member, and no more rows
        were dropped than were planted."""
        ids = pq.read_table(self.out, columns=["doc_id"]).column(0).to_pylist()
        kept = set(ids)
        if len(kept) != len(ids) or not kept <= self.input_ids:
            return False
        if any(a in kept and b in kept for a, b in self.exact_pairs):
            return False
        caught = sum(not (a in kept and b in kept) for a, b in self.near_pairs)
        removed = self.n_docs - len(kept)
        return (
            caught >= MIN_RECALL * len(self.near_pairs)
            and removed <= len(self.near_pairs) + len(self.exact_pairs)
        )

    def warm(self) -> None:
        self._pass(self.warm_src)

    def timed_pass(self) -> int:
        """One checked pass over the corpus; returns the documents read."""
        self._pass(self.src)
        self.attempted += 1
        self.failed += not self._check_output()
        return self.n_docs

    def layers(self, self_times: dict) -> dict:
        out = {k: median(v) for k, v in self.stats.items()}
        out.update(
            {
                "dedup.exact_s": median(self_times.get("dedup.exact", [])),
                "dedup.minhash_lsh_s": median(self_times.get("dedup.minhash_lsh", [])),
                "cluster.s": median(self_times.get("cluster", [])),
                "embedding.docs_per_s": self.n_docs / median(self_times.get("embedding.docs", [1.0])),
                "io.write_s": median(self_times.get("io.write", [])),
                "io.bytes_written_per_input_byte": self._out_bytes() / self.input_bytes,
            }
        )
        return out

    def _out_bytes(self) -> int:
        return sum(
            os.path.getsize(os.path.join(self.out, f))
            for f in os.listdir(self.out)
            if f.endswith(".parquet")
        )
