"""The benchmark's workloads, each driving the package's public API.

A workload is set up (inputs generated, then seeded or preloaded), warmed
with untimed operations, and then run as a loop of passes; every pass
reports its operations' latencies and what it landed. Checks run last.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import checks
import gen

NS = "bench"
BASE_TS = "2030-01-01 00:00:00"


@dataclass(frozen=True)
class Scale:
    base_rows: int  # lineitem rows preloaded into TRUSTED
    update_frac: float  # share of a batch day's rows the source has re-priced
    insert_frac: float  # new lines per batch day, as a share of the day's rows
    batches: int  # batches generated; a run stops early if it uses them all
    batches_per_pass: int
    warmup_batches: int  # untimed, before measuring
    catalog_sf: float


SCALES = {
    "full": Scale(base_rows=120_000, update_frac=0.3, insert_frac=0.1, batches=80,
                  batches_per_pass=2, warmup_batches=4, catalog_sf=0.01),
    "tiny": Scale(base_rows=4_000, update_frac=0.3, insert_frac=0.1, batches=20,
                  batches_per_pass=2, warmup_batches=1, catalog_sf=0.001),
}
BATCH_DAYS = 1  # a batch re-syncs one ship date: one slice at the reference tiers


@dataclass
class PassResult:
    wall: float
    rows: int
    ops: list = field(default_factory=list)  # latency of each operation, s
    extra: dict = field(default_factory=dict)  # name -> list of per-op values


@dataclass
class Env:
    root: str
    seed: int
    scale: Scale
    tracer: object
    slices: object
    spark: object = None


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return total, files


def parquet_rows(path: str) -> int:
    rows = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                rows += pq.ParquetFile(os.path.join(dirpath, n)).metadata.num_rows
    return rows


class JdbcResync:
    """The reference's resync job against a live JDBC source (embedded
    Derby). TRUSTED is preloaded at set-up with the lake's copy of the
    table (the backfill path: MIN/MAX probes on parquet statistics, one
    parallel range read, the first-version transform). Each batch then
    re-extracts one day the source has changed from the database with the
    sequential, manifest-resumable lifecycle (one Spark job and one
    manifest rewrite per slice), merges it into TRUSTED, vacuums and reads
    the current snapshot in full."""

    name = "jdbc_resync"
    op = "batch"
    dataset = "lineitem"

    def setup(self, env: Env, d: str) -> dict:
        from etl_complete_with_spark_spark.lake import Lake
        from etl_complete_with_spark_spark.pipeline import ResyncConfig, ResyncPipeline
        from etl_complete_with_spark_spark.sources import ParquetSource
        from etl_complete_with_spark_spark.sources.jdbc import (
            DERBY_DRIVER, derby_url, seed_jdbc_table)

        s = env.scale
        inputs = os.path.join(d, "inputs")
        os.makedirs(inputs)
        self.info = gen.resync_inputs(inputs, env.seed, s.base_rows, s.update_frac,
                                      s.insert_frac, s.batches)
        self.base = os.path.join(inputs, "base.parquet")
        self.source = os.path.join(inputs, "source.parquet")
        col = pq.read_table(self.source, columns=["L_SHIPDATE"]).column(0)
        self.source_days = sorted({t.date() for t in col.to_pylist()})
        self.lake = Lake(os.path.join(d, "lake"))
        self.applied: list[str] = []
        self.last = None
        src = ParquetSource(self.base, "L_SHIPDATE")
        # The operator passes the window end (date mode would default to
        # today): the day after the source's last, probed.
        end = src.probe_max(env.spark).date() + dt.timedelta(days=1)
        cfg = ResyncConfig(NS, self.dataset, "L_SHIPDATE", "date", end=end,
                           amount=self.info["base"]["rows"], id_request="preload")
        pipe = ResyncPipeline(src, self.lake, cfg)
        pipe.run(env.spark, parallel=True)
        pipe.transform_and_merge(env.spark, gen.LINEITEM_KEY, batch_ts=BASE_TS)

        self.db = os.path.join(d, "derby")
        self.url = derby_url(self.db)
        self.opts = {"driver": DERBY_DRIVER}
        with env.tracer.span("sources.seed_jdbc_table"):
            seed_jdbc_table(env.spark.read.parquet(self.source), self.url, "LINEITEM",
                            options=self.opts)
        return {k: self.info[k] for k in ("base", "source")}

    def _trusted_dir(self) -> str:
        return self.lake.path("trusted", NS, self.dataset)

    def setup_checks(self, env: Env) -> list:
        return [(f"preload.{n}", ok, detail) for n, ok, detail in checks.check_trusted(
            self._trusted_dir(), self.base, self.source, [], BATCH_DAYS, gen.LINEITEM_KEY)]

    def _batch(self, env: Env) -> dict | None:
        from etl_complete_with_spark_spark.pipeline import ResyncConfig, ResyncPipeline
        from etl_complete_with_spark_spark.sources import JdbcSource

        i = len(self.applied)
        if i >= len(self.info["windows"]):
            return None
        window = self.info["windows"][i]
        start = dt.date.fromisoformat(window)
        cfg = ResyncConfig(NS, self.dataset, "L_SHIPDATE", "date", start=start,
                           end=start + dt.timedelta(days=BATCH_DAYS),
                           amount=self.info["base"]["rows"], id_request=f"batch-{i}")
        pipe = ResyncPipeline(JdbcSource(self.url, "LINEITEM", "L_SHIPDATE", options=self.opts),
                              self.lake, cfg)
        ts = (dt.datetime(2030, 1, 2) + dt.timedelta(minutes=i)).strftime("%Y-%m-%d %H:%M:%S")
        spark, lake = env.spark, self.lake
        n0 = len(env.slices.latencies)
        t0 = time.perf_counter()
        lake.clear_work(spark, NS, self.dataset)
        res = pipe.run(spark, parallel=False)
        pipe.transform_and_merge(spark, gen.LINEITEM_KEY, batch_ts=ts)
        lake.vacuum_trusted(spark, NS, self.dataset, keep=2)
        t1 = time.perf_counter()
        # The downstream read is lazy until the write forces it, so its
        # span covers both (the package's read_trusted alone only plans).
        with env.tracer.span("lake.read_trusted"):
            lake.read_trusted(spark, NS, self.dataset).write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        self.applied.append(window)
        self.last = res

        work = lake.path("work", NS, self.dataset)
        work_bytes, work_files = dir_stats(work)
        trusted = self._trusted_dir()
        current = os.path.join(trusted, checks.read_frame(os.path.join(trusted, "_CURRENT")).strip())
        written, written_files = dir_stats(current)
        kept, _ = dir_stats(trusted)
        return {
            "latency": t2 - t0, "rows": parquet_rows(work),
            "slice_s": env.slices.latencies[n0:],
            "trusted_read_s": t2 - t1,
            "slicing.intervals": len(res.intervals),
            "pipeline.attempts": res.attempts, "pipeline.skipped": len(res.skipped),
            "pipeline.retries": res.attempts - len(res.completed),
            "pipeline.useful_slice_frac": self._useful(res.intervals) / len(res.intervals),
            "lake.work_bytes": work_bytes, "lake.work_files": work_files,
            "lake.manifest_bytes": os.path.getsize(os.path.join(work, "_SLICES.json")),
            "lake.trusted_bytes_written": written, "lake.trusted_files_written": written_files,
            "lake.rewrite_ratio": written / work_bytes,
            "lake.write_amp": (work_bytes + written) / work_bytes,
            "lake.space_amp": kept / written,
        }

    def _useful(self, intervals) -> int:
        """Planned slices that hold at least one source row."""
        return sum(any(iv.start <= d < iv.end for d in self.source_days) for iv in intervals)

    def warmup(self, env: Env) -> None:
        # A fixed count, not a duration: a slow run must not start
        # measuring with a colder JIT than a fast one.
        for _ in range(env.scale.warmup_batches):
            self._batch(env)

    def run_pass(self, env: Env) -> PassResult | None:
        out = PassResult(0.0, 0)
        for _ in range(env.scale.batches_per_pass):
            b = self._batch(env)
            if b is None:
                return None
            out.ops.append(b.pop("latency"))
            out.wall += out.ops[-1]
            out.rows += b.pop("rows")
            for k, v in b.items():
                out.extra.setdefault(k, []).extend(v if isinstance(v, list) else [v])
        return out

    def checks(self, env: Env) -> list:
        return checks.check_trusted(
            self._trusted_dir(), self.base, self.source, self.applied, BATCH_DAYS,
            gen.LINEITEM_KEY,
        ) + checks.check_work_extract(
            self.lake.path("work", NS, self.dataset), self.source, self.applied[-1],
            BATCH_DAYS, self.last.intervals)

    def release(self, env: Env) -> None:
        """Shut this database down so its directory can be removed."""
        from py4j.protocol import Py4JJavaError

        jvm = env.spark.sparkContext._jvm
        try:
            jvm.org.apache.derby.jdbc.EmbeddedDriver().connect(
                f"jdbc:derby:{self.db}/db;shutdown=true", jvm.java.util.Properties())
        except Py4JJavaError:
            pass  # Derby reports a completed shutdown as an SQLException


CATALOG = {  # query -> tables it reads
    "association_rules_parts": ["lineitem"],
    "robust_outlier_prices": ["lineitem"],
    "corpus_clean_pipeline": ["documents"],
    "dedup_containment": ["documents"],
    "agg_quantiles": ["lineitem"],
    "pagerank_suppliers": ["lineitem", "orders"],
    "item_cooccurrence_similarity": ["lineitem"],
    "stream_sessionize": ["events"],
}


class CatalogHot:
    """A fixed slice of the query catalog, each query forced with a noop
    write. The warm-up pass collects every result for the oracle check."""

    name = "catalog_hot"
    op = "query"

    def setup(self, env: Env, d: str) -> dict:
        self.sf_dir = os.path.join(d, "inputs")
        os.makedirs(self.sf_dir)
        self.tables = gen.catalog_inputs(self.sf_dir, env.seed, env.scale.catalog_sf)
        self.rows = sum(self.tables[t]["rows"] for ts in CATALOG.values() for t in ts)
        return {"tables": self.tables}

    def setup_checks(self, env: Env) -> list:
        return []

    def warmup(self, env: Env) -> None:
        from etl_complete_with_spark_spark.queries import QUERIES

        self.results = {n: QUERIES[n](env.spark, self.sf_dir).toPandas() for n in CATALOG}

    def run_pass(self, env: Env) -> PassResult:
        from etl_complete_with_spark_spark.queries import QUERIES

        out = PassResult(0.0, self.rows)
        for n in CATALOG:
            t0 = time.perf_counter()
            with env.tracer.span(f"queries.{n}"):
                QUERIES[n](env.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
            out.ops.append(time.perf_counter() - t0)
        out.wall = sum(out.ops)
        return out

    def checks(self, env: Env) -> list:
        from etl_complete_with_spark_spark.queries import ORACLE

        return checks.check_catalog(env.root, self.sf_dir, self.results, ORACLE)

    def release(self, env: Env) -> None:
        pass


WORKLOADS = {w.name: w for w in (JdbcResync, CatalogHot)}
