"""In-process cost of the wire codec kernels on a workload's own batches.

The fused envelope UDFs run on executors, where their time hides inside
task time.  This probe calls the same kernels in this process on the batches
the workload generates, shaped as Arrow hands them to the UDFs:

- ``wire_np.encode_pack_batch`` / ``wire_np.unpack_decode_batch``, the
  vectorized path; a batch it declines returns ``None`` (its fast share);
- the compiled ``avro_codec`` encoder and decoder, the per-row path every
  declined batch takes.

Per-row values come from ``to_pylist`` (nulls stay ``None``), so the
per-row timing measures the codec itself, not the null handling of the
UDF around it.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd


def probe(batches, schema_json: str, message_type: str, schema_id: int) -> dict:
    """``batches``: list of (pyarrow.RecordBatch of payload fields, list of
    previous-payload bytes or None per row)."""
    from data_pipeline_spark import avro_codec, wire_np
    from data_pipeline_spark.envelope import ENVELOPE_SCHEMA, MAGIC_BINARY

    schema = avro_codec.parse_schema(schema_json)
    names = [f["name"] for f in schema["fields"]]
    fast_fields = wire_np.flat_field_types(schema)
    symbols = ENVELOPE_SCHEMA["fields"][1]["type"]["symbols"]
    mt_bytes = wire_np._const_varint(symbols.index(message_type))
    sid_bytes = wire_np._const_varint(int(schema_id))
    rec_enc = avro_codec.compile_encoder(schema)
    env_enc = avro_codec.compile_encoder(ENVELOPE_SCHEMA)
    rec_dec = avro_codec.compile_decoder(schema, schema)
    env_dec = avro_codec.compile_decoder(ENVELOPE_SCHEMA)

    rows = 0
    t_fast_enc = t_fast_dec = t_row_enc = t_row_dec = 0.0
    fast_enc = fast_dec = 0
    for batch, prev in batches:
        n = batch.num_rows
        rows += n
        data = batch.to_pandas()
        uuids = pd.Series([os.urandom(16) for _ in range(n)], dtype=object)
        prev_s = pd.Series(prev if prev is not None else [None] * n, dtype=object)
        ts = pd.Series(np.full(n, 1_700_000_000, dtype=np.int64))

        t0 = time.perf_counter()
        res = None
        if fast_fields is not None:
            res = wire_np.encode_pack_batch(
                data, uuids, prev_s, ts, fast_fields, mt_bytes, sid_bytes, MAGIC_BINARY
            )
        t_fast_enc += time.perf_counter() - t0
        fast_enc += res is not None

        t0 = time.perf_counter()
        cols = [batch.column(c).to_pylist() for c in names]
        wire = []
        for values, u, pv in zip(zip(*cols), uuids, prev_s):
            payload = bytearray()
            rec_enc(payload, values)
            buf = bytearray(MAGIC_BINARY)
            env_enc(buf, (u, message_type, schema_id, bytes(payload), pv, None, None, 1_700_000_000))
            wire.append(bytes(buf))
        t_row_enc += time.perf_counter() - t0

        blob = pd.Series(wire, dtype=object)
        t0 = time.perf_counter()
        res = None
        if fast_fields is not None:
            res = wire_np.unpack_decode_batch(
                blob, {schema_id: fast_fields}, symbols, names, MAGIC_BINARY
            )
        t_fast_dec += time.perf_counter() - t0
        fast_dec += res is not None

        t0 = time.perf_counter()
        for b in wire:
            envelope, _ = env_dec(memoryview(b)[1:], 0)
            rec_dec(memoryview(envelope[3]), 0)
        t_row_dec += time.perf_counter() - t0

    return {
        "rows": rows, "batches": len(batches), "fast_enc": fast_enc, "fast_dec": fast_dec,
        "t_fast_enc": t_fast_enc, "t_fast_dec": t_fast_dec,
        "t_row_enc": t_row_enc, "t_row_dec": t_row_dec,
    }


def summarize(totals: list[dict]) -> dict[str, float]:
    """Per-layer metrics from one or more ``probe`` results (one per
    schema), weighted by rows and batches."""
    tot = {k: sum(t[k] for t in totals) for k in totals[0]}
    per = 100_000 / tot["rows"] if tot["rows"] else 0.0
    nb = max(1, tot["batches"])
    return {
        "wire.encode_s_per_100k": tot["t_fast_enc"] * per,
        "wire.decode_s_per_100k": tot["t_fast_dec"] * per,
        "wire.encode_fast_share": tot["fast_enc"] / nb,
        "wire.decode_fast_share": tot["fast_dec"] / nb,
        "avro_codec.encode_s_per_100k": tot["t_row_enc"] * per,
        "avro_codec.decode_s_per_100k": tot["t_row_dec"] * per,
    }


def parquet_batches(path: str, columns, rows: int, batch_rows: int = 10_000):
    """The first ``rows`` rows of a parquet file as Arrow-sized batches
    (spark.sql.execution.arrow.maxRecordsPerBatch = 10000)."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=list(columns)).slice(0, rows)
    return [(b, None) for b in table.to_batches(max_chunksize=batch_rows)]
