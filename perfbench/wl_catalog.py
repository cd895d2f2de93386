"""catalog_batch: warm passes over 18 catalog queries.

Closed loop.  Set-up writes a fixed-seed corpus with the schemas of the
repository's test corpus and runs one cold pass (JIT, Python workers,
persisted index sidecars, cached table frames).  Each measured pass then
builds and collects every query in a seed-permuted order.  After the
measured passes, each query's last result is compared once with its DuckDB
oracle; the two ANN queries, which have no oracle, must return the same
result hash on every pass of the run.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import sys
import time

import datagen
from harness import median

SF = 0.02
CORPUS_SEED = 42  # one corpus for every run; --seed permutes the query order
NO_ORACLE = ("pq_ann_topk", "ivfpq_ann_topk")


def _result_hash(rows, columns) -> str:
    import oracle_utils

    cols, norm = oracle_utils.normalize(rows, columns)
    return hashlib.sha256(repr((cols, norm)).encode()).hexdigest()


class CatalogBatch:
    def __init__(self, spark, work: str, seed: int, queries):
        self.spark = spark
        self.sf_dir = os.path.join(work, "corpus")
        self.queries = tuple(queries)
        self.order = list(queries)
        random.Random(seed).shuffle(self.order)
        self.passes: list[dict] = []
        self.hashes: dict[str, set] = {q: set() for q in NO_ORACLE}
        self.last: dict[str, tuple] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None

    # -- set-up ---------------------------------------------------------------

    def generate(self) -> None:
        datagen.catalog_corpus(self.sf_dir, CORPUS_SEED, SF)

    def prepare(self) -> None:
        import data_pipeline_spark.queries_llm  # noqa: F401  (registers queries)
        import data_pipeline_spark.queries_pipeline  # noqa: F401
        import data_pipeline_spark.queries_tpch  # noqa: F401

        # the cold pass runs three queries at a time: it only has to leave
        # the JIT, Python workers, sidecars and cached frames warm
        from concurrent.futures import ThreadPoolExecutor

        from data_pipeline_spark.queries import QUERIES

        def cold(q: str) -> None:
            df = QUERIES[q].spark(self.spark, self.sf_dir)
            rows = [tuple(r) for r in df.collect()]
            if q in self.hashes:
                self.hashes[q].add(_result_hash(rows, df.columns))

        # heaviest first (the listed order starts with the star CC and the
        # ANN queries), so the longest cold query does not start last
        with ThreadPoolExecutor(max_workers=3) as pool:
            for f in [pool.submit(cold, q) for q in self.queries]:
                f.result()

    # -- measured work ----------------------------------------------------------

    def run(self, seconds: float) -> tuple[float, float, list[dict]]:
        first = len(self.passes)
        t0 = time.time()
        while True:
            self._pass()
            if time.time() - t0 >= seconds:
                return t0, time.time(), self.passes[first:]

    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def _pass(self) -> None:
        from data_pipeline_spark.queries import QUERIES

        per_query: dict[str, dict] = {}
        t_pass = time.perf_counter()
        for q in self.order:
            spec = QUERIES[q]
            rec: dict = {}
            try:
                t0 = time.perf_counter()
                with self._span(f"catalog.{q}.construct"):
                    df = spec.spark(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                if self.tracer and self.tracer.enabled:
                    df._jdf.queryExecution().optimizedPlan()
                    rec["optimize_s"] = time.perf_counter() - t1
                    t1 = time.perf_counter()
                with self._span(f"catalog.{q}.execute"):
                    rows = [tuple(r) for r in df.collect()]
                t2 = time.perf_counter()
            except Exception as exc:
                self.attempted += 1
                self.failed += 1
                self.errors.append(f"{q}: {exc!r}")
                print(f"catalog_batch query failed: {q}: {exc!r}", file=sys.stderr)
                continue
            rec.update(construct_s=t1 - t0, execute_s=t2 - t1)
            per_query[q] = rec
            self.last[q] = (rows, df.columns, df.schema)
            if q in self.hashes:
                self.hashes[q].add(_result_hash(rows, df.columns))
            self.attempted += 1
        self.passes.append({"wall_s": time.perf_counter() - t_pass, "queries": per_query})

    def check(self) -> None:
        """Oracle comparison of each query's last result (outside timing)."""
        import duckdb
        import oracle_utils
        from pyspark.sql import types as T

        from data_pipeline_spark.queries import QUERIES

        con = duckdb.connect()
        try:
            oracle_utils.register_duck_views(con, self.sf_dir)
            for q, (rows, columns, schema) in self.last.items():
                if q in NO_ORACLE:
                    if len(self.hashes[q]) != 1:
                        self._wrong(q, "result hash changed between passes")
                    continue
                res = con.execute(QUERIES[q].oracle)
                ocols = [d[0] for d in res.description]
                instant = {
                    f.name for f in schema.fields if isinstance(f.dataType, T.TimestampType)
                }
                orows = [
                    tuple(
                        oracle_utils._oracle_dt_to_host_local(v) if c in instant else v
                        for c, v in zip(ocols, r)
                    )
                    for r in res.fetchall()
                ]
                if oracle_utils.normalize(rows, columns) != oracle_utils.normalize(orows, ocols):
                    self._wrong(q, "result differs from the DuckDB oracle")
        finally:
            con.close()

    def _wrong(self, q: str, msg: str) -> None:
        self.failed += 1
        self.errors.append(f"{q}: {msg}")
        print(f"catalog_batch check failed: {q}: {msg}", file=sys.stderr)

    # -- results ------------------------------------------------------------------

    def metrics(self, passes: list[dict]) -> dict[str, float]:
        wall = median(p["wall_s"] for p in passes)
        return {"catalog_wall_s": wall, "wall_s": wall, "passes": float(len(passes))}

    def install_tracing(self, tracer) -> None:
        self.tracer = tracer

    def layer_metrics(self, tracer, passes: list[dict]) -> dict[str, float]:
        import codec_probe
        from data_pipeline_spark.queries_pipeline import _EVENT_WIRE_SCHEMA

        out: dict[str, float] = {}
        for q in self.order:
            recs = [p["queries"][q] for p in passes if q in p["queries"]]
            out[f"catalog.{q}.construct_s"] = median(r["construct_s"] for r in recs)
            out[f"catalog.{q}.execute_s"] = median(r["execute_s"] for r in recs)
            spans = tracer.of(f"catalog.{q}.construct") + tracer.of(f"catalog.{q}.execute")
            out[f"catalog.{q}.jobs"] = float(sum(s["jobs"] for s in spans)) / max(1, len(recs))
        out["catalog.optimize_s"] = median(
            sum(r.get("optimize_s", 0.0) for r in p["queries"].values()) for p in passes
        )
        # the corpus' wire-shaped table, through the codec kernels
        batches = codec_probe.parquet_batches(
            os.path.join(self.sf_dir, "events.parquet"),
            ("event_id", "user_id", "event_type", "value"),
            100_000,
        )
        out.update(codec_probe.summarize(
            [codec_probe.probe(batches, _EVENT_WIRE_SCHEMA, "create", 1)]
        ))
        return out
