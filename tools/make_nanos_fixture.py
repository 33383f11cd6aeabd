#!/usr/bin/env python3
"""Generate src/test/resources/parquet_nanos/events.parquet — an
`events` table whose `ts` is stored as INT64 TIMESTAMP(NANOS), the
encoding of the earlier data drops (TESTDATA.md), for the schema-cache
spec (TablesSchemaCacheSpec). Both committed data drops store `ts` as
micros, so without this file the nanos path of `Tables.events` is never
read. Eight rows; every `ts` carries sub-microsecond digits.

Run from the repo root: python3 tools/make_nanos_fixture.py
"""
import os

import pyarrow as pa
import pyarrow.parquet as pq

out = "src/test/resources/parquet_nanos/events.parquet"
os.makedirs(os.path.dirname(out), exist_ok=True)

base = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z in ns
n = 8
table = pa.table({
    "event_id": pa.array(range(n), pa.int64()),
    "ts": pa.array([base + i * 61_000_000_123 + 457 for i in range(n)],
                   pa.timestamp("ns")),
    "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
    "event_type": pa.array(["view", "click", "error", "view"] * 2, pa.string()),
    "value": pa.array([1.5 * i for i in range(n)], pa.float64()),
    "props": pa.array([f'{{"k": {i}}}' for i in range(n)], pa.string()),
})
pq.write_table(table, out, coerce_timestamps=None, version="2.6")
print(out, pq.ParquetFile(out).schema.column(1))
