"""analytics: a fixed sample of the registry queries from one client.

The ten fixture tables are generated from the seed and written as
parquet. Set-up fills the program's scan cache from them and then runs
one warm-up pass over the sample. The timed phase makes whole passes
over the sample in name order, collecting each result as a client
would; every execution is one latency sample, with no
repeat-and-keep-the-best. The sample is the same for every seed, so
seeds differ only in the data. After the window every collected result
is compared, untimed, with the query's DuckDB oracle using
``values_match`` from tools/driver_sim.py.
"""

from __future__ import annotations

import hashlib
import sys
import time

import gen
from gen import FIXTURE_TABLES as TABLES
from harness import Workload as Base
from harness import median

# Queries whose name hashes into this bucket form the sample: a fixed,
# seed-independent subset that only grows when the registry does.
SAMPLE_MOD = 48


# Sampled queries left out because they fail their oracle on some seeds
# for a reason in the program, not in the benchmark. Each is an open
# defect; drop it from here once fixed.
KNOWN_DEFECTS = {
    # round(sum(double), 2): the engine and DuckDB add in different
    # orders and round a total lying on a .xx5 boundary to different cents.
    "star_join_revenue",
}


def in_sample(name: str) -> bool:
    return (
        int(hashlib.sha1(name.encode()).hexdigest(), 16) % SAMPLE_MOD == 0
        and name not in KNOWN_DEFECTS
    )


class Workload(Base):
    def __init__(self, ctx):
        self.ctx = ctx
        self.dir = f"{ctx.work}/fixtures"
        self.table_bytes = {
            name: gen.write_table(t, f"{self.dir}/{name}.parquet")
            for name, t in gen.fixture_tables(ctx.seed, ctx.size).items()
        }
        from resume_jd_matcher_spark import queries as Q

        self.registry = Q._REGISTRY
        self.names = sorted(n for n, q in Q._REGISTRY.items() if q.oracle and in_sample(n))
        self.results: list = []
        self.fill_s: list[float] = []
        self.eager_jobs = 0

    def setup_once(self) -> None:
        from resume_jd_matcher_spark.sources import io as src_io

        src_io.enable_scan_cache()
        src_io.clear_scan_cache()
        t0 = time.perf_counter()
        src_io.warm_scan_cache(self.ctx.spark, self.dir)
        self.fill_s.append(time.perf_counter() - t0)

    def warm_up(self) -> None:
        for name in self.names:
            self._run(name)

    def _run(self, name: str) -> None:
        from resume_jd_matcher_spark.operators import dedup

        tr, ctr = self.ctx.tracer, self.ctx.counters
        try:
            with tr.span("query", rid=name):
                jobs0 = ctr.snapshot()["jobs"] if tr.enabled else 0
                with tr.span("queries.build"):
                    df = self.registry[name].fn(self.ctx.spark, self.dir)
                if tr.enabled:
                    self.eager_jobs += ctr.snapshot()["jobs"] - jobs0
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("exec"):
                    self.results.append((name, df.toPandas()))
        except Exception as e:  # noqa: BLE001 - a failing query is a failed op
            self.results.append((name, e))
        finally:
            dedup.release_persisted()

    def measure(self, seconds: float) -> tuple[list[float], int]:
        """Whole passes over the sample until the next one would overrun
        the window; at least one. Whole passes keep the mix of queries
        behind the percentiles the same in every run."""
        lat: list[float] = []
        passes: list[float] = []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() + median(passes) <= deadline:
            p0 = time.perf_counter()
            for name in self.names:
                t0 = time.perf_counter()
                self._run(name)
                lat.append(time.perf_counter() - t0)
            passes.append(time.perf_counter() - p0)
        return lat, len(lat)

    def check(self) -> tuple[int, int]:
        """Compare every collected result with its DuckDB oracle."""
        import duckdb

        from tools.driver_sim import values_match

        failed = 0
        with duckdb.connect() as con:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            for name, got in self.results:
                if isinstance(got, Exception):
                    err = repr(got)
                else:
                    err = values_match(got, con.sql(self.registry[name].oracle).df())
                if err is not None:
                    failed += 1
                    print(f"analytics: {name}: {err}", file=sys.stderr)
        return len(self.results), failed

    def layers(self, self_times: dict, spark_metrics: dict) -> dict:
        from resume_jd_matcher_spark.sources import io as src_io

        spark = self.ctx.spark
        out = {
            "scan_cache.fill_s": median(self.fill_s),
            "queries.build_s": median(self_times.get("queries.build", [])),
            "queries.eager_jobs": self.eager_jobs,
            "plan_s": median(self_times.get("plan", [])),
        }
        for t in TABLES:
            out[f"scan_cache.partitions.{t}"] = src_io.load_table(spark, self.dir, t).rdd.getNumPartitions()
            out[f"scan_cache.bytes.{t}"] = self.table_bytes[t]
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        out["scan_cache.mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        return out
