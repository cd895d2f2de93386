"""refresh_bulk: bulk refresh of a 1M-row table, then tailing it back.

Closed loop, one client.  Each cycle has two phases, timed apart:

- write: ``refresh.plan_ranges`` + ``FullRefreshRunner.run`` publish the
  whole source table as ``refresh`` messages to a 4-partition topic;
- read: a ``Consumer`` with an ``OffsetLedger`` tails the topic from the
  committed offsets, a JVM-side aggregate checksums the decoded payloads
  (no ``collect`` of rows), and the consumed offsets are committed.

Every cycle publishes to the same topic, so each read starts from the
offsets the previous cycle committed.
"""

from __future__ import annotations

import contextlib
import json
import os
import subprocess
import sys
import time

from pyspark.sql import functions as F

import datagen
from harness import median

ROWS = 1_000_000
WARMUP_ROWS = 100_000
BATCH_SIZE = 10_000
PARTITIONS = 4
PK = "event_id"
FIELDS = ("event_id", "user_id", "event_type", "value")
GROUP = "perfbench"


def _checksum(cols):
    """Order-independent 32-bit-lane hash sum; identical for the source
    columns and the decoded payload fields (same Spark types)."""
    return F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)))


class RefreshBulk:
    def __init__(self, spark, work: str, seed: int):
        from data_pipeline_spark.producer import Producer
        from data_pipeline_spark.queries_pipeline import _EVENT_WIRE_SCHEMA
        from data_pipeline_spark.registry import SchemaRegistry
        from data_pipeline_spark.sources.file_topic import OffsetLedger, TopicStore

        self.spark = spark
        self.work = work
        self.seed = seed
        self.registry = SchemaRegistry()
        self.store = TopicStore(spark, os.path.join(work, "topics"))
        self.ledger = OffsetLedger(spark, os.path.join(work, "ledger"))
        self.producer = Producer(self.store, self.registry)
        self.schema = _EVENT_WIRE_SCHEMA
        self.cycles: list[dict] = []
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []
        self._job_ids = iter(range(1, 1 << 30))
        self.tracer = None

    # -- set-up ---------------------------------------------------------------

    def generate(self) -> None:
        self.src_path = os.path.join(self.work, "source.parquet")
        datagen.refresh_source(self.src_path, self.seed, ROWS)

    def prepare(self) -> None:
        """Source frame + checksum, then one warm-up cycle on a small table
        (own topic) so the measured cycles run on warm workers and code."""
        self.table = self.spark.read.parquet(self.src_path)
        self.source_sum = self.table.agg(_checksum(list(FIELDS))).first()[0]
        self.rs = self.registry.register_schema(
            "perfbench.refresh", "events", self.schema, primary_keys=(PK,)
        )
        warm = self.table.filter(F.col(PK) < WARMUP_ROWS)
        warm_rs = self.registry.register_schema(
            "perfbench.refresh", "warmup", self.schema, primary_keys=(PK,)
        )
        warm_sum = warm.agg(_checksum(list(FIELDS))).first()[0]
        self.cycle(warm, warm_rs, WARMUP_ROWS, warm_sum, record=False)

    # -- measured work ----------------------------------------------------------

    def run(self, seconds: float) -> tuple[float, float, list[dict]]:
        """Cycles until ``seconds`` have passed: (start, end, cycles)."""
        first = len(self.cycles)
        t0 = time.time()
        while True:
            self.cycle(self.table, self.rs, ROWS, self.source_sum)
            if time.time() - t0 >= seconds:
                return t0, time.time(), self.cycles[first:]

    def cycle(self, table, rs, rows: int, source_sum: int, record: bool = True) -> None:
        from data_pipeline_spark import refresh

        topic = rs.topic
        checks: list[str] = []
        self.attempted += 2 if record else 0
        try:
            t0 = time.perf_counter()
            ranges = refresh.plan_ranges(table, PK, BATCH_SIZE)
            job = refresh.RefreshJob(
                refresh_id=next(self._job_ids),
                source=rs.source,
                namespace=rs.namespace,
                schema_id=rs.schema_id,
                batch_size=BATCH_SIZE,
            )
            published = refresh.FullRefreshRunner(self.producer).run(
                table, PK, job, num_partitions=PARTITIONS
            )
            write_s = time.perf_counter() - t0
        except Exception as exc:  # a failed publish is a failed operation
            self._fail(record, 2, f"refresh: {exc!r}")
            return
        if published != rows or len(ranges) != -(-rows // BATCH_SIZE):
            checks.append(f"published {published} rows in {len(ranges)} ranges")

        from data_pipeline_spark.consumer import Consumer

        consumer = Consumer(self.store, self.registry, group=GROUP, ledger=self.ledger)
        try:
            t0 = time.perf_counter()
            with self.tracer.span("consumer.tail") if self.tracer else contextlib.nullcontext():
                start = self.ledger.committed(GROUP, topic)
                msgs = consumer.messages(topic, starting_offsets=start or None)
                parts = (
                    msgs.groupBy("partition")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.min("offset").alias("lo"),
                        F.max("offset").alias("hi"),
                        _checksum([f"payload.{c}" for c in FIELDS]).alias("ck"),
                        F.sum((F.col("message_type") != "refresh").cast("long")).alias("bad"),
                    )
                    .collect()
                )
                consumer.commit(
                    topic,
                    self.spark.createDataFrame(
                        [(r.partition, r.hi) for r in parts], "partition INT, offset LONG"
                    ),
                )
            read_s = time.perf_counter() - t0
        except Exception as exc:
            self._fail(record, 1, f"tail: {exc!r}")
            return
        n = sum(r.n for r in parts)
        if n != rows:
            checks.append(f"tailed {n} messages, expected {rows}")
        if sum(r.ck for r in parts) != source_sum:
            checks.append("payload checksum differs from the source table")
        if any(r.bad for r in parts):
            checks.append("non-refresh message_type on the topic")
        for r in parts:
            if r.lo != (start or {}).get(r.partition, 0) or r.hi - r.lo + 1 != r.n:
                checks.append(f"partition {r.partition} offsets not contiguous")
        if checks:
            self._fail(record, 1, "; ".join(checks))
        if record:
            self.cycles.append({"write_s": write_s, "read_s": read_s, "rows": rows})

    def _fail(self, record: bool, n: int, msg: str) -> None:
        if not record:
            raise RuntimeError(f"warm-up cycle failed: {msg}")
        self.failed += n
        self.errors.append(msg)
        print(f"refresh_bulk check failed: {msg}", file=sys.stderr)

    # -- results ------------------------------------------------------------------

    def metrics(self, cycles: list[dict]) -> dict[str, float]:
        write = median(c["write_s"] for c in cycles)
        read = median(c["read_s"] for c in cycles)
        return {
            "refresh_msgs_per_s": ROWS / write if write else 0.0,
            "tail_msgs_per_s": ROWS / read if read else 0.0,
            "wall_s": median(c["write_s"] + c["read_s"] for c in cycles),
            "cycles": float(len(cycles)),
        }

    def check(self) -> None:
        """The store's high watermarks agree with what was tailed."""
        highs = self.store.high_watermarks(self.rs.topic, PARTITIONS)
        if sum(highs.values()) != ROWS * len(self.cycles):
            self._fail(True, 1, f"high watermarks {highs} disagree with the tailed total")

    # -- tracing ----------------------------------------------------------------

    def install_tracing(self, tracer) -> None:
        self.tracer = tracer

    def layer_metrics(self, tracer, cycles: list[dict]) -> dict[str, float]:
        import codec_probe

        tails = tracer.of("consumer.tail")
        files, per_msg = self.topic_files()
        out = {
            "consumer.messages_s_per_100k": median(c["read_s"] for c in cycles) / ROWS * 1e5,
            "consumer.jobs": median(tracer.inclusive_jobs(s) for s in tails),
            "topic_store.files": float(files),
            "topic_store.bytes_per_msg": per_msg,
        }
        batches = codec_probe.parquet_batches(self.src_path, FIELDS, 100_000)
        out.update(codec_probe.summarize(
            [codec_probe.probe(batches, self.schema, "refresh", self.rs.schema_id)]
        ))
        return out

    def topic_files(self) -> tuple[int, float]:
        """(parquet data files, bytes per message) of the measured topic."""
        files = size = 0
        for root, _dirs, names in os.walk(os.path.join(self.store.root, self.rs.topic)):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, name))
        msgs = ROWS * len(self.cycles)
        return files, size / msgs if msgs else 0.0


def single_core_wall(run_py: str, seed: int) -> float:
    """Wall of one refresh_bulk cycle on local[1], from a child run of the
    benchmark with one core (the stream-processing single-thread baseline)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, run_py, "--workload", "refresh_bulk", "--seed", str(seed),
         "--seconds", "1", "--trace", "0"],
        env=env, capture_output=True, text=True, timeout=170, check=True,
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        raise RuntimeError("single-core baseline run failed its checks")
    return result["metrics"]["wall_s"]["value"]
