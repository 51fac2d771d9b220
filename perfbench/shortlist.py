"""shortlist: the recruiter's /shortlist request under a closed loop.

``nproc`` client threads each send a distinct job description and wait
for the reply before sending the next. A request is embed_query →
topk_similarity_blas(k=10) → collect over a persisted corpus of
384-d hash-backend embeddings. Every reply is checked against a NumPy
brute-force top-10 over the collected corpus embeddings.
"""

from __future__ import annotations

import hashlib
import threading
import time

import numpy as np

import gen
from harness import Workload as Base
from harness import median

DIM = 384
K = 10
N_DOCS = 2_000
N_FILES = 8


def hash_embed(text: str, dim: int = DIM) -> np.ndarray:
    """The hash backend's definition: per dimension, the first 32 bits
    of md5("<text>#dim<d>") mapped to [-1, 1) and rounded to 6 places."""
    out = np.empty(dim)
    for d in range(dim):
        h = int(hashlib.md5(f"{text}#dim{d}".encode()).hexdigest()[:8], 16)
        out[d] = round(h / 4294967296.0 * 2.0 - 1.0, 6)
    return out


class Workload(Base):
    def __init__(self, ctx):
        self.ctx = ctx
        self.n_docs = max(200, int(N_DOCS * ctx.size))
        table, _, _ = gen.corpus(ctx.seed, self.n_docs, near_dup_frac=0.0, exact_dup_frac=0.0)
        self.path = f"{ctx.work}/shortlist_corpus"
        gen.write_parts(table, self.path, N_FILES)
        # Far more JDs than any run can send: clients never run dry.
        self.jds = gen.jd_stream(ctx.seed, 4000)
        self._next = 0
        self._lock = threading.Lock()
        self.corpus = None
        self.replies: list[tuple[str, list]] = []
        self.embed_s: list[float] = []

    def setup_once(self) -> None:
        from resume_jd_matcher_spark.operators.embedding import embed_documents

        if self.corpus is not None:
            self.corpus.unpersist(blocking=True)
        t0 = time.perf_counter()
        self.corpus = embed_documents(self.ctx.spark.read.parquet(self.path), dim=DIM).persist()
        self.corpus.count()
        self.embed_s.append(time.perf_counter() - t0)

    def warm_up(self) -> None:
        """One request, so the first timed one pays no first-use cost."""
        self._request(self._take_jd(), rid=None, record=False)

    def after_setup(self) -> None:
        pdf = self.corpus.toPandas()
        self.ids = pdf["doc_id"].to_numpy()
        self.mat = np.stack(pdf["embedding"].to_numpy())
        self.sq = (self.mat * self.mat).sum(axis=1)
        self.pos = {int(v): i for i, v in enumerate(self.ids)}

    def _take_jd(self) -> str:
        with self._lock:
            jd = self.jds[self._next % len(self.jds)]
            self._next += 1
            return jd

    def _request(self, jd: str, rid, record: bool = True):
        from resume_jd_matcher_spark.operators.embedding import embed_query
        from resume_jd_matcher_spark.operators.similarity_blas import topk_similarity_blas

        ctx, tr = self.ctx, self.ctx.tracer
        with tr.span("request", rid):
            with tr.span("embedding.query"):
                q = embed_query(ctx.spark, jd, dim=DIM)
                if tr.enabled:
                    q = ctx.spark.createDataFrame(q.collect(), q.schema)
            with tr.span("similarity_blas.probe"):
                top = topk_similarity_blas(self.corpus, q, k=K, id_col="doc_id")
            if tr.enabled:
                with tr.span("plan"):
                    top._jdf.queryExecution().executedPlan()
            with tr.span("similarity_blas.exec"):
                rows = top.collect()
        if record:
            with self._lock:
                self.replies.append((jd, rows))
        return rows

    def measure(self, seconds: float) -> tuple[list[float], int]:
        deadline = time.perf_counter() + seconds
        lat: list[list[float]] = [[] for _ in range(self.ctx.ncpu)]
        errors: list[BaseException] = []

        def client(i: int) -> None:
            try:
                while time.perf_counter() < deadline:
                    jd = self._take_jd()
                    t0 = time.perf_counter()
                    self._request(jd, rid=f"{i}:{len(lat[i])}")
                    lat[i].append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001 - reported as a failed run
                errors.append(e)

        threads = [threading.Thread(target=client, args=(i,)) for i in range(self.ctx.ncpu)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        flat = [x for xs in lat for x in xs]
        return flat, len(flat)

    def check(self) -> tuple[int, int]:
        failed = 0
        for jd, rows in self.replies:
            q = hash_embed(jd)
            d2 = np.maximum(self.sq + q @ q - 2.0 * (self.mat @ q), 0.0)
            best = np.sort(d2)[:K]
            got = sorted(r["dist"] for r in rows)
            ids = [r["doc_id"] for r in rows]
            ok = (
                len(rows) == K
                and len(set(ids)) == K
                and np.allclose(got, np.round(best, 4), atol=2e-4)
                and all(abs(d2[self.pos[r["doc_id"]]] - r["dist"]) < 2e-4 for r in rows)
            )
            failed += not ok
        return len(self.replies), failed

    def layers(self, self_times: dict, spark_metrics: dict) -> dict:
        n_req = len(self_times.get("request", [])) or 1
        return {
            "similarity_blas.tasks_per_request": spark_metrics["spark.tasks"] / n_req,
            "embedding.docs_per_s": self.n_docs / median(self.embed_s),
            "embedding.query_s": median(self_times.get("embedding.query", [])),
            "similarity_blas.probe_s": median(self_times.get("similarity_blas.probe", [])),
            "similarity_blas.exec_s": median(self_times.get("similarity_blas.exec", [])),
            "plan_s": median(self_times.get("plan", [])),
        }
