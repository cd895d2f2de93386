"""cdc_stream: open-loop change-data-capture delivery latency.

Three source tables (``accounts``, ``orders``, ``items``) with nullable
long, string and double columns produce creates, updates that carry the
pre-image as ``previous_payload``, and deletes.  Each window's change
sequence is drawn from the seed; three threads then run it:

- the generator releases each change on a fixed schedule (``RATE`` per
  second) and stamps ``created_ms`` with the time it was due, so a stall
  anywhere downstream shows as latency;
- the publisher flushes each table's pending changes whenever its previous
  flush has returned: one ``Producer.prepare`` per (message type, schema)
  and one ``TopicStore.publish_counted`` per table (``Producer.publish``
  cannot carry ``previous=``);
- one Structured Streaming query over ``Consumer.messages_stream`` of every
  topic delivers to a ``foreachBatch`` sink that stamps delivery time.

Midway through the measured window a v2 ``accounts`` schema with a
defaulted field is registered; the query restarts from its checkpoint with
the v2 reader before any v2 change is published.

Checks: every generated change is delivered exactly once (by ``change_id``)
with the generated payload, v1 accounts read through the v2 reader carry
the default, and the raw envelopes on each topic, decoded in this process
with the per-row ``avro_codec`` decoder, equal the generated rows and
pre-images.  A publish that raises fails every change of its flush.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from datetime import datetime

import numpy as np

from harness import median, quantile, tail_percentile

RATE = 3200.0  # changes per second offered by the generator
WARMUP_S = 4.0
LIMIT_MS = 20_000.0  # delivery latency limit of cdc_within_limit_share
NULL_SHARE = 0.05
NAMESPACE = "perfbench.cdc"
DRAIN_S = 40.0


def _schema(name: str, fields: list) -> str:
    return json.dumps({"type": "record", "name": name, "fields": fields})


_BASE = [
    {"name": "change_id", "type": "string"},
    {"name": "created_ms", "type": "long"},
]
TABLES = {
    "accounts": ("account_id", [
        {"name": "account_id", "type": "long"}, *_BASE,
        {"name": "name", "type": ["null", "string"]},
        {"name": "age", "type": ["null", "long"]},
        {"name": "balance", "type": ["null", "double"]},
    ]),
    "orders": ("order_id", [
        {"name": "order_id", "type": "long"}, *_BASE,
        {"name": "account_id", "type": "long"},
        {"name": "amount", "type": ["null", "double"]},
        {"name": "status", "type": "string"},
        {"name": "note", "type": ["null", "string"]},
    ]),
    "items": ("item_id", [
        {"name": "item_id", "type": "long"}, *_BASE,
        {"name": "sku", "type": "string"},
        {"name": "qty", "type": ["null", "long"]},
        {"name": "price", "type": "double"},
    ]),
}
V2_TABLE = "accounts"
V2_FIELD = {"name": "tier", "type": "string", "default": "basic"}
TABLE_WEIGHTS = (0.3, 0.45, 0.25)
OPS = ("create", "update", "delete")
OP_WEIGHTS = (0.5, 0.35, 0.15)


def _field_names(table: str, version: int) -> list[str]:
    names = [f["name"] for f in TABLES[table][1]]
    return names + ([V2_FIELD["name"]] if version == 2 else [])


def schema_json(table: str, version: int) -> str:
    fields = TABLES[table][1] + ([V2_FIELD] if version == 2 else [])
    return _schema(table, fields)


class _Source:
    """Seeded row values for one table; ``state`` holds live rows."""

    def __init__(self, table: str, rng):
        self.table = table
        self.rng = rng
        self.state: dict[int, dict] = {}
        self.next_pk = 1

    def _maybe(self, value):
        return None if self.rng.random() < NULL_SHARE else value

    def row(self, pk: int, version: int) -> dict:
        r = self.rng
        if self.table == "accounts":
            row = {
                "account_id": pk,
                "name": self._maybe(f"user-{int(r.integers(0, 10**6))}"),
                "age": self._maybe(int(r.integers(18, 90))),
                "balance": self._maybe(round(float(r.normal(500.0, 300.0)), 2)),
            }
            if version == 2:
                row["tier"] = ("basic", "silver", "gold")[int(r.integers(0, 3))]
            return row
        if self.table == "orders":
            return {
                "order_id": pk,
                "account_id": int(r.integers(1, 5000)),
                "amount": self._maybe(round(float(r.exponential(80.0)), 2)),
                "status": ("new", "paid", "shipped", "closed")[int(r.integers(0, 4))],
                "note": self._maybe("note " + "x" * int(r.integers(0, 40))),
            }
        return {
            "item_id": pk,
            "sku": f"SKU-{int(r.integers(0, 10**5)):05d}",
            "qty": self._maybe(int(r.integers(1, 20))),
            "price": round(float(r.uniform(1.0, 200.0)), 2),
        }


def generate_changes(seed: int, n: int, v2_from: int) -> list[dict]:
    """``n`` changes; accounts changes from index ``v2_from`` on are v2."""
    rng = np.random.default_rng(seed)
    sources = {t: _Source(t, rng) for t in TABLES}
    names = list(TABLES)
    out = []
    for i in range(n):
        table = names[int(rng.choice(3, p=TABLE_WEIGHTS))]
        src = sources[table]
        version = 2 if table == V2_TABLE and i >= v2_from else 1
        op = OPS[int(rng.choice(3, p=OP_WEIGHTS))] if src.state else "create"
        prev = None
        if op == "create":
            pk = src.next_pk
            src.next_pk += 1
            row = src.row(pk, version)
        else:
            pk = list(src.state)[int(rng.integers(0, len(src.state)))]
            prev = dict(src.state[pk])
            if version == 2:
                prev.setdefault("tier", V2_FIELD["default"])
            row = src.row(pk, version) if op == "update" else dict(prev)
            if op == "delete":
                prev = None
        row["change_id"] = f"{seed:x}-{i:08x}"
        if op == "delete":
            del src.state[pk]
        else:
            src.state[pk] = {k: v for k, v in row.items() if k not in ("change_id", "created_ms")}
        out.append({"i": i, "table": table, "op": op, "version": version,
                    "row": row, "prev": prev})
    return out


class CdcStream:
    def __init__(self, spark, work: str, seed: int):
        from data_pipeline_spark.producer import Producer
        from data_pipeline_spark.registry import SchemaRegistry
        from data_pipeline_spark.sources.file_topic import TopicStore

        self.spark = spark
        self.work = work
        self.seed = seed
        self.registry = SchemaRegistry()
        self.store = TopicStore(spark, os.path.join(work, "topics"))
        self.producer = Producer(self.store, self.registry)
        self.lock = threading.Lock()
        self.deliveries: dict[str, list] = defaultdict(list)
        self.epochs: set[int] = set()
        self.published_ok = 0
        self.delivered_n = 0
        self.backlog_max = 0
        self.failed_ids: set[str] = set()
        self.flushes: list[dict] = []
        self.probe_batches: list[tuple] = []
        self.late_ms: list[float] = []
        self.queries: list = []
        self.progress: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.tracer = None
        self.v2_ready = threading.Event()
        self.windows: list[list[dict]] = []
        self.wrong_ids: set[str] = set()

    # -- set-up ---------------------------------------------------------------

    def generate(self) -> None:
        """Changes are drawn per measured window in ``run`` (its length is
        the ``--seconds`` argument); set-up only sizes the warm-up."""
        self.n_warm = int(RATE * WARMUP_S)

    def prepare(self) -> None:
        self.sids = {}
        for table, (pk, _fields) in TABLES.items():
            rs = self.registry.register_schema(
                NAMESPACE, table, schema_json(table, 1), primary_keys=(pk,)
            )
            self.sids[(table, 1)] = rs.schema_id
        self.topics = {t: self.registry.get_schema_by_id(self.sids[(t, 1)]).topic for t in TABLES}
        warm = generate_changes(self.seed + 1_000_003, self.n_warm, self.n_warm)
        # The file stream source infers the ``partition`` column from the
        # files present when the query starts; a topic that is still empty
        # then breaks the union plan once its first files land.  So each
        # topic gets one bootstrap change with every field set before the
        # query starts.  Warm-up and measured changes keep their nulls.
        for table in TABLES:
            boot = next(c for c in warm if c["table"] == table and c["op"] == "create"
                        and None not in c["row"].values())
            boot["created_ms"] = time.time() * 1000.0
            self._flush(table, [boot], record=False)
            if boot["row"]["change_id"] in self.failed_ids:
                raise RuntimeError(f"bootstrap publish to {table} failed")
        self._start_query()
        # warm-up changes run the same code on an own seed and are not scored
        self._drive([c for c in warm if "created_ms" not in c], record=False)

    # -- the three threads ------------------------------------------------------

    def _start_query(self) -> None:
        from pyspark.sql import functions as F

        from data_pipeline_spark.consumer import Consumer

        consumer = Consumer(self.store, self.registry)
        stream = None
        for table, topic in self.topics.items():
            s = consumer.messages_stream(topic).select(
                F.lit(table).alias("table"),
                "partition", "offset", "message_type", "schema_id",
                F.to_json("payload").alias("payload_json"),
            )
            stream = s if stream is None else stream.unionByName(s)
        q = (
            stream.writeStream.foreachBatch(self._sink)
            .option("checkpointLocation", os.path.join(self.work, "cdc-checkpoint"))
            .queryName(f"cdc{len(self.queries)}")
            .start()
        )
        self.queries.append(q)

    def _sink(self, df, epoch_id: int) -> None:
        rows = df.collect()
        now = time.time() * 1000.0
        with self.lock:
            if epoch_id in self.epochs:  # a replay after restart: delivered already
                return
            self.epochs.add(epoch_id)
            for r in rows:
                payload = json.loads(r.payload_json)
                self.deliveries[payload["change_id"]].append(
                    (now, r.table, r.message_type, payload)
                )
            self.delivered_n += len(rows)

    def _drive(self, changes: list[dict], record: bool, on_half=None) -> tuple[float, float]:
        """Generator + publisher threads over ``changes`` at ``RATE``."""
        pending: dict[str, list] = {t: [] for t in TABLES}
        done = threading.Event()
        t0 = time.time()

        def generator() -> None:
            for k, c in enumerate(changes):
                due = t0 + k / RATE
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                late = max(0.0, time.time() - due) * 1000.0
                c["created_ms"] = due * 1000.0
                with self.lock:
                    if record:
                        self.late_ms.append(late)
                    pending[c["table"]].append(c)
            done.set()

        def publisher() -> None:
            while True:
                idle = True
                for table in TABLES:
                    with self.lock:
                        ready = [c for c in pending[table]
                                 if c["version"] == 1 or self.v2_ready.is_set()]
                        if ready:
                            taken = {id(c) for c in ready}
                            pending[table] = [c for c in pending[table] if id(c) not in taken]
                    if ready:
                        idle = False
                        self._flush(table, ready, record)
                if idle:
                    with self.lock:
                        left = sum(len(v) for v in pending.values())
                    if done.is_set() and left == 0:
                        return
                    time.sleep(0.005)

        threads = [threading.Thread(target=generator, name="cdc-generator"),
                   threading.Thread(target=publisher, name="cdc-publisher")]
        for t in threads:
            t.start()
        if on_half is not None:
            while time.time() < t0 + len(changes) / RATE / 2:
                time.sleep(0.05)
            on_half()
        for t in threads:
            t.join()
        t1 = time.time()
        self._wait_delivered(lambda: self._delivered_total(changes) >= self._published_total(changes))
        return t0, t1

    def _flush(self, table: str, changes: list[dict], record: bool) -> None:
        """One flush: prepare per (message type, schema), one publish."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from data_pipeline_spark import avro_codec
        from data_pipeline_spark import envelope as env

        t0 = time.perf_counter()
        groups: dict[tuple, list] = defaultdict(list)
        for c in changes:
            groups[(c["op"], c["version"])].append(c)
        frames = []
        try:
            for (op, version), cs in sorted(groups.items()):
                sjson = schema_json(table, version)
                names = _field_names(table, version)
                stype = avro_codec.to_spark_type(avro_codec.parse_schema(sjson))
                rows = [dict(c["row"], created_ms=int(c["created_ms"])) for c in cs]
                data = [tuple(r[n] for n in names) for r in rows]
                previous = None
                if op == "update":
                    pnames = [n for n in names if n not in ("change_id", "created_ms")]
                    stype = T.StructType(list(stype.fields) + [
                        T.StructField(f"prev_{f.name}", f.dataType, f.nullable)
                        for f in stype.fields if f.name in pnames
                    ])
                    data = [d + tuple(c["prev"][n] for n in pnames) for d, c in zip(data, cs)]
                    # the pre-image is the prior row under the message's own
                    # writer schema; change_id/created_ms name this change
                    previous = env.encode_payload_udf(sjson)(F.struct(*[
                        (F.col(f"prev_{n}") if n in pnames else F.col(n)).alias(n)
                        for n in names
                    ]))
                if record and len(self.probe_batches) < 400:
                    self.probe_batches.append((table, op, version, rows,
                                               [c["prev"] for c in cs]))
                df = self.spark.createDataFrame(data, stype)
                frames.append(self.producer.prepare(
                    df, self.sids[(table, version)], op, previous=previous
                ))
            wire = frames[0]
            for f in frames[1:]:
                wire = wire.unionByName(f)
            _highs, n = self.store.publish_counted(wire, self.topics[table], num_partitions=4)
        except Exception as exc:  # the whole flush is lost
            with self.lock:
                for c in changes:
                    self.failed_ids.add(c["row"]["change_id"])
                if record:
                    why = next((ln for ln in str(exc).splitlines() if "Error:" in ln), repr(exc))
                    self.errors.append(f"publish {table}: {why.strip()[:200]}")
                    self.flushes.append({"s": time.perf_counter() - t0, "ok": False})
            return
        with self.lock:
            self.published_ok += n
            # published and not yet delivered, at its peak: right after a publish
            self.backlog_max = max(self.backlog_max, self.published_ok - self.delivered_n)
            if record:
                self.flushes.append({"s": time.perf_counter() - t0, "ok": True, "n": n})

    def _delivered_total(self, changes) -> int:
        with self.lock:
            return sum(1 for c in changes if self.deliveries.get(c["row"]["change_id"]))

    def _published_total(self, changes) -> int:
        with self.lock:
            return sum(1 for c in changes if c["row"]["change_id"] not in self.failed_ids)

    def _wait_delivered(self, cond) -> None:
        deadline = time.time() + DRAIN_S
        while time.time() < deadline and not cond():
            if any(q.exception() is not None for q in self.queries[-1:]):
                return
            time.sleep(0.05)

    def _switch_to_v2(self) -> None:
        """Register the v2 schema, restart the query with the v2 reader
        from its checkpoint, then let v2 changes publish."""
        rs = self.registry.register_schema(
            NAMESPACE, V2_TABLE, schema_json(V2_TABLE, 2),
            primary_keys=(TABLES[V2_TABLE][0],),
        )
        if rs.topic != self.topics[V2_TABLE]:
            raise RuntimeError(f"v2 schema moved to a new topic {rs.topic}")
        self.sids[(V2_TABLE, 2)] = rs.schema_id
        old = self.queries[-1]
        self.progress.extend(old.recentProgress)
        old.stop()
        self._start_query()
        self.v2_ready.set()

    # -- measured work ----------------------------------------------------------

    def run(self, seconds: float) -> tuple[float, float, list[dict]]:
        n = max(1, int(RATE * seconds))
        window = generate_changes(self.seed * 100 + len(self.windows), n, n // 2)
        self.windows.append(window)
        self.v2_ready.clear()
        self.backlog_max = 0
        first, late_first = len(self.flushes), len(self.late_ms)
        t0, t1 = self._drive(window, record=True, on_half=self._switch_to_v2)
        self.attempted += len(window)
        return t0, t1, [{
            "flushes": self.flushes[first:], "changes": window,
            "start": t0, "end": time.time(),
            "backlog_max": self.backlog_max, "late_ms": self.late_ms[late_first:],
        }]

    def check(self) -> None:
        for q in self.queries:
            if q.isActive:
                self.progress.extend(q.recentProgress)
                q.stop()
        err = self.queries[-1].exception()
        if err is not None:
            self.errors.append(f"stream: {str(err)[:300]}")
        changes = [c for w in self.windows for c in w]
        self.wrong_ids = self._check_deliveries(changes) | self._check_raw(changes)
        self.failed += len(self.wrong_ids)

    def _expected(self, c: dict, reader_version: int) -> dict:
        row = dict(c["row"], created_ms=int(c["created_ms"]))
        if c["table"] == V2_TABLE and reader_version == 2:
            row.setdefault("tier", V2_FIELD["default"])
        return row

    @staticmethod
    def _pre_image(c: dict, names: list[str]) -> dict:
        pre = {n: c["prev"].get(n) for n in names}
        pre.update(change_id=c["row"]["change_id"], created_ms=int(c["created_ms"]))
        return pre

    def _check_deliveries(self, changes) -> set[str]:
        """Exactly once, with the generated payload (consumer path)."""
        bad = set()
        for c in changes:
            cid = c["row"]["change_id"]
            got = self.deliveries.get(cid, [])
            if len(got) != 1:
                bad.add(cid)
                continue
            _now, table, mt, payload = got[0]
            # a v1 change read after the restart has the v2 reader's default
            reader = 2 if ("tier" in payload or c["version"] == 2) else 1
            want = self._expected(c, reader)
            have = {k: payload.get(k) for k in want}
            if table != c["table"] or mt != c["op"] or have != want:
                bad.add(cid)
        return bad

    def _check_raw(self, changes) -> set[str]:
        """Raw envelopes on each topic, decoded row by row in this process."""
        from data_pipeline_spark import avro_codec
        from data_pipeline_spark.envelope import ENVELOPE_SCHEMA

        by_id = {c["row"]["change_id"]: c for c in changes}
        env_dec = avro_codec.compile_decoder(ENVELOPE_SCHEMA)
        decoders = {}  # schema id -> (field names, compiled decoder)
        for (t, v), sid in self.sids.items():
            sjson = schema_json(t, v)
            decoders[sid] = (_field_names(t, v), avro_codec.compile_decoder(sjson))
        bad = set()
        for table, topic in self.topics.items():
            if not self.store.exists(topic):
                continue
            blobs = [r.value for r in self.store.read(topic).select("value").collect()]
            for blob in blobs:
                (_u, mt, sid, payload, prev, _meta, _enc, _ts), _ = env_dec(memoryview(blob)[1:], 0)
                names, decode = decoders[sid]
                values, _ = decode(memoryview(payload), 0)
                row = dict(zip(names, values))
                c = by_id.get(row.get("change_id"))
                if c is None:
                    continue  # warm-up change
                want = self._expected(c, c["version"])
                ok = row == want and mt == c["op"]
                if c["op"] == "update":
                    pre = None
                    if prev is not None:
                        pvals, _ = decode(memoryview(prev), 0)
                        pre = dict(zip(names, pvals))
                    ok = ok and pre == self._pre_image(c, names)
                if not ok:
                    bad.add(c["row"]["change_id"])
        return bad

    # -- results ------------------------------------------------------------------

    def metrics(self, units: list[dict]) -> dict[str, float]:
        """Latency over the changes of ``units`` delivered correctly; call
        after ``check``."""
        changes = [c for u in units for c in u["changes"]]
        lat = []
        for c in changes:
            cid = c["row"]["change_id"]
            got = self.deliveries.get(cid)
            if got and cid not in self.wrong_ids:
                lat.append(got[0][0] - c["created_ms"])
        p, v, beyond = tail_percentile(lat)
        within = sum(1 for x in lat if x <= LIMIT_MS)
        return {
            "wall_s": median(f["s"] for u in units for f in u["flushes"]),
            "cdc_latency_p50_ms": median(lat),
            "cdc_latency_p99_ms": v,
            "cdc_latency_tail_percentile": p,
            "cdc_latency_samples": float(len(lat)),
            "cdc_latency_beyond_tail": float(beyond),
            "cdc_within_limit_share": within / max(1, len(changes)),
            "cdc_failed_publish_changes": float(
                sum(1 for c in changes if c["row"]["change_id"] in self.failed_ids)
            ),
        }

    def install_tracing(self, tracer) -> None:
        self.tracer = tracer

    def layer_metrics(self, tracer, units: list[dict]) -> dict[str, float]:
        import pyarrow as pa

        import codec_probe
        from data_pipeline_spark import avro_codec

        unit = units[0]

        def in_window(p) -> bool:
            ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            return unit["start"] <= ts <= unit["end"]

        prog = [p for p in self.progress if p.get("numInputRows") and in_window(p)]
        dur = lambda k: [p["durationMs"].get(k, 0) for p in prog]  # noqa: E731
        out = {
            "streaming.trigger_ms_p50": quantile(dur("triggerExecution"), 0.5),
            "streaming.trigger_ms_p90": quantile(dur("triggerExecution"), 0.9),
            "streaming.add_batch_ms": median(dur("addBatch")),
            "streaming.latest_offset_ms": median(dur("latestOffset")),
            "streaming.planning_ms": median(dur("queryPlanning")),
            "streaming.wal_commit_ms": median(dur("walCommit")),
            "streaming.rows_per_trigger": median(p["numInputRows"] for p in prog),
            "streaming.backlog_msgs_max": float(unit["backlog_max"]),
            "cdc.generator_late_ms": quantile(unit["late_ms"], 0.99),
        }
        totals = []
        for table, op, version, rows, prevs in self.probe_batches:
            sjson = schema_json(table, version)
            schema = avro_codec.parse_schema(sjson)
            names = [f["name"] for f in schema["fields"]]
            batch = pa.RecordBatch.from_pylist(
                [{n: r[n] for n in names} for r in rows],
                schema=pa.schema([(n, _arrow_type(f["type"])) for n, f in zip(names, schema["fields"])]),
            )
            prev_bytes = None
            if op == "update":
                enc = avro_codec.compile_encoder(schema)
                prev_bytes = []
                for r, p in zip(rows, prevs):
                    buf = bytearray()
                    enc(buf, [p.get(n, r[n]) for n in names])
                    prev_bytes.append(bytes(buf))
            totals.append(codec_probe.probe(
                [(batch, prev_bytes)], sjson, op, self.sids[(table, version)]
            ))
        if totals:
            out.update(codec_probe.summarize(totals))
        return out


def _arrow_type(t):
    import pyarrow as pa

    t = t[1] if isinstance(t, list) else t
    return {"long": pa.int64(), "string": pa.string(), "double": pa.float64()}[t]
