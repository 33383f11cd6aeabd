"""Seeded inputs for the benchmark.

Two kinds of input, both made from ``--seed`` alone:

* ``make_tables`` writes the parquet star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that the OLAP and pipeline
  gates read. Names, column types and value ranges follow the
  scale-factor directories the gates are written against.
* ``make_sqlite`` writes a SQLite copy of that catalog for the
  migration workload. It declares INTEGER, REAL, TEXT, DATETIME (with
  fractional seconds), DATE, BOOLEAN and BLOB columns, plants NULLs and
  malformed temporal strings, has one WITHOUT ROWID table and one table
  with no declared primary key, and is left in WAL mode with committed
  but un-checkpointed frames. Next to it goes ``expected.json``: the
  per-table row count and checksum the staged output must have under
  the reference's coercion rules (null-as-default, lenient temporal
  parsing), plus the checksum with DATE/DATETIME values kept as text.

The same seed gives the same bytes: parquet is written by one pyarrow
version, SQLite pages by one library, and the WAL's random salts are
replaced by seeded ones (with every checksum recomputed).
"""
import datetime as dt
import hashlib
import json
import os
import re
import shutil
import sqlite3
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. ``orders`` drives ``lineitem`` (about four lines per
# order). "bench" matches the sf0.01 directories (60k lineitem rows);
# "smoke" matches sf0.001 and only serves the benchmark's own tests.
TABLE_SCALE = {
    "bench": {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
              "events": 10000, "documents": 500, "embeddings": 500},
    "smoke": {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
              "events": 1000, "documents": 500, "embeddings": 500}}
SQLITE_SCALE = {
    "bench": {"customer": 600, "supplier": 40, "part": 800, "orders": 6000,
              "events": 4000, "documents": 300},
    "smoke": {"customer": 60, "supplier": 10, "part": 80, "orders": 600,
              "events": 400, "documents": 100}}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "cold", "hot", "new", "small", "large", "old"]
PART_NOUN = ["widget", "bolt", "gear", "rod", "ring", "anvil", "nut", "pin"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

DAY0 = dt.date(1995, 1, 1)
EVENTS_T0 = dt.datetime(2024, 1, 1)


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog(seed, scale):
    """The logical catalog as numpy columns, one dict per table."""
    r = _rng(seed, 1)
    n = dict(scale)
    cust, supp, part, nord = n["customer"], n["supplier"], n["part"], n["orders"]
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array(REGIONS, dtype=object)}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(cust, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(cust)], dtype=object),
        "c_nationkey": r.integers(0, 25, cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, cust),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[r.integers(0, 5, cust)]}
    t["supplier"] = {
        "s_suppkey": np.arange(supp, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(supp)], dtype=object),
        "s_nationkey": r.integers(0, 25, supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, supp)}
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = {
        "p_partkey": np.arange(part, dtype=np.int64),
        "p_name": np.array(names, dtype=object)[r.integers(0, len(names), part)],
        "p_brand": np.array([f"Brand#{i}" for i in r.integers(1, 26, part)], dtype=object),
        "p_type": np.array(PART_TYPES, dtype=object)[r.integers(0, 6, part)],
        "p_size": r.integers(1, 51, part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(part) * 0.1, 2)}
    odays = r.integers(0, 2404, nord)
    t["orders"] = {
        "o_orderkey": np.arange(nord, dtype=np.int64),
        "o_custkey": r.integers(0, cust, nord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, nord)],
        "o_totalprice": _money(r, 1000, 500000, nord),
        "o_orderdate": odays,
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[r.integers(0, 5, nord)]}
    lines = r.integers(1, 8, nord)
    okey = np.repeat(np.arange(nord, dtype=np.int64), lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    nl = len(okey)
    pk = r.integers(0, part, nl).astype(np.int64)
    qty = r.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": okey, "l_partkey": pk,
        "l_suppkey": r.integers(0, supp, nl).astype(np.int64),
        "l_linenumber": lno, "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + pk * 0.1) * r.uniform(1.0, 2.3, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[r.integers(0, 2, nl)],
        "l_shipdate": np.minimum(odays[okey] + r.integers(1, 122, nl), 2499)}
    ne = n["events"]
    us = np.sort(r.integers(0, 30 * 86400 * 10**6, ne))
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64), "ts_us": us,
        "user_id": r.integers(0, max(1, cust // 10), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[r.integers(0, 5, ne)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, ne), 2)),
        "props": np.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)], dtype=object)}
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and r.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            k = int(r.integers(10, 100))
            texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), k)]))
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.array(LANGS, dtype=object)[r.integers(0, len(LANGS), nd)],
        "source": np.array([f"src{i % 20}" for i in range(nd)], dtype=object),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}
    return t


def _ts_days(days):
    return pa.array((np.datetime64("1995-01-01") + days.astype("timedelta64[D]"))
                    .astype("datetime64[us]"), pa.timestamp("us"))


def make_tables(seed, out_dir, scale=TABLE_SCALE["bench"]):
    """Parquet inputs of the OLAP and pipeline workloads."""
    os.makedirs(out_dir, exist_ok=True)
    t = catalog(seed, scale)
    arrow = {}
    for name, cols in t.items():
        arrays = {}
        for c, v in cols.items():
            if c in ("o_orderdate", "l_shipdate"):
                arrays[c] = _ts_days(v)
            elif c == "ts_us":
                arrays["ts"] = pa.array(v.astype("datetime64[us]"), pa.timestamp("us"))
            elif v.dtype == object:
                arrays[c] = pa.array(list(v), pa.string())
            else:
                arrays[c] = pa.array(v)
        arrow[name] = pa.table(arrays)
    ev = arrow["events"]
    arrow["events"] = ev.select(["event_id", "ts", "user_id", "event_type", "value", "props"])
    r = _rng(seed, 2)
    ne, dim = scale["embeddings"], 64
    labels = r.integers(0, 10, ne).astype(np.int32)
    centers = r.normal(0, 1, (10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + r.normal(0, 1.0 / np.sqrt(dim), (ne, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    arrow["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels)})
    for name, tab in arrow.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------- SQLite

SQLITE_DDL = [
    "CREATE TABLE region (r_regionkey INTEGER PRIMARY KEY, r_name TEXT)",
    # WITHOUT ROWID: records hold the key first, the reader permutes back
    "CREATE TABLE nation (n_nationkey INTEGER PRIMARY KEY, n_name TEXT, "
    "n_regionkey INTEGER) WITHOUT ROWID",
    "CREATE TABLE customer (c_custkey INTEGER PRIMARY KEY, c_name TEXT, "
    "c_nationkey INTEGER, c_acctbal REAL, c_mktsegment TEXT)",
    "CREATE TABLE supplier (s_suppkey INTEGER PRIMARY KEY, s_name TEXT, "
    "s_nationkey INTEGER, s_acctbal REAL)",
    "CREATE TABLE part (p_partkey INTEGER PRIMARY KEY, p_name TEXT, "
    "p_brand TEXT, p_type TEXT, p_size INTEGER, p_retailprice REAL)",
    "CREATE TABLE orders (o_orderkey INTEGER PRIMARY KEY, o_custkey INTEGER, "
    "o_orderstatus TEXT, o_totalprice REAL, o_orderdate DATE, "
    "o_orderpriority TEXT)",
    "CREATE TABLE lineitem (l_orderkey INTEGER, l_linenumber INTEGER, "
    "l_partkey INTEGER, l_suppkey INTEGER, l_quantity REAL, "
    "l_extendedprice REAL, l_discount REAL, l_tax REAL, l_returnflag TEXT, "
    "l_linestatus TEXT, l_shipdate DATE, "
    "PRIMARY KEY (l_orderkey, l_linenumber))",
    # no declared key: the migration infers one from names + data
    "CREATE TABLE events (event_id INTEGER, ts DATETIME, user_id INTEGER, "
    "event_type TEXT, value REAL, props TEXT, is_bot BOOLEAN)",
    "CREATE TABLE documents (doc_id INTEGER PRIMARY KEY, created_at DATETIME, "
    "lang TEXT, body TEXT, payload BLOB, is_clean BOOLEAN)",
]

BAD_DATETIMES = ["", "   ", "N/A", "2024/01/05 10:11:12", "2024-02-30 10:00:00",
                 "yesterday", "2024-01-05T10:11:12"]
BAD_DATES = ["", " ", "unknown", "01/02/1999", "1999-13-01", "1999-02-29"]


def _plant(r, values, bad, rate):
    """Replace a seeded share of ``values`` with NULL or a malformed string."""
    out = list(values)
    for i in np.nonzero(r.random(len(out)) < rate)[0]:
        out[i] = None if r.random() < 0.4 else bad[int(r.integers(0, len(bad)))]
    return out


def _nullify(r, values, rate):
    out = list(values)
    for i in np.nonzero(r.random(len(out)) < rate)[0]:
        out[i] = None
    return out


def sqlite_rows(seed, scale):
    """Rows to insert, per table, as Python tuples in declared column order."""
    t = catalog(seed, scale)
    r = _rng(seed, 3)
    day = lambda d: (DAY0 + dt.timedelta(days=int(d))).isoformat()

    def stamp(us):
        s = (EVENTS_T0 + dt.timedelta(microseconds=int(us))).isoformat(" ")
        return s if "." in s else s + ".000000"

    rows = {}
    rows["region"] = list(zip(t["region"]["r_regionkey"].tolist(), t["region"]["r_name"]))
    rows["nation"] = list(zip(*(t["nation"][c].tolist() for c in
                                ("n_nationkey", "n_name", "n_regionkey"))))
    c = t["customer"]
    rows["customer"] = list(zip(c["c_custkey"].tolist(), c["c_name"], c["c_nationkey"].tolist(),
                                _nullify(r, c["c_acctbal"].tolist(), 0.02),
                                _nullify(r, c["c_mktsegment"], 0.02)))
    s = t["supplier"]
    rows["supplier"] = list(zip(s["s_suppkey"].tolist(), s["s_name"], s["s_nationkey"].tolist(),
                                s["s_acctbal"].tolist()))
    p = t["part"]
    rows["part"] = list(zip(p["p_partkey"].tolist(), p["p_name"], p["p_brand"], p["p_type"],
                            _nullify(r, p["p_size"].tolist(), 0.02), p["p_retailprice"].tolist()))
    o = t["orders"]
    rows["orders"] = list(zip(o["o_orderkey"].tolist(), _nullify(r, o["o_custkey"].tolist(), 0.02),
                              o["o_orderstatus"], _nullify(r, o["o_totalprice"].tolist(), 0.02),
                              _plant(r, [day(d) for d in o["o_orderdate"]], BAD_DATES, 0.03),
                              o["o_orderpriority"]))
    li = t["lineitem"]
    rows["lineitem"] = list(zip(
        li["l_orderkey"].tolist(), li["l_linenumber"].tolist(), li["l_partkey"].tolist(),
        li["l_suppkey"].tolist(), li["l_quantity"].tolist(),
        _nullify(r, li["l_extendedprice"].tolist(), 0.01), li["l_discount"].tolist(),
        li["l_tax"].tolist(), li["l_returnflag"], li["l_linestatus"],
        _plant(r, [day(d) for d in li["l_shipdate"]], BAD_DATES, 0.03)))
    e = t["events"]
    rows["events"] = list(zip(
        e["event_id"].tolist(),
        _plant(r, [stamp(u) for u in e["ts_us"]], BAD_DATETIMES, 0.03),
        e["user_id"].tolist(), e["event_type"], _nullify(r, e["value"].tolist(), 0.02),
        _nullify(r, e["props"], 0.02),
        _nullify(r, r.integers(0, 2, len(e["event_id"])).tolist(), 0.05)))
    d = t["documents"]
    created = [stamp(u) for u in np.sort(r.integers(0, 30 * 86400 * 10**6, len(d["doc_id"])))]
    payload = [hashlib.sha256(f"{seed}:{i}".encode()).hexdigest().encode()
               for i in d["doc_id"].tolist()]
    rows["documents"] = list(zip(
        d["doc_id"].tolist(), _plant(r, created, BAD_DATETIMES, 0.03), d["lang"],
        _nullify(r, d["text"], 0.02), _nullify(r, payload, 0.05),
        _nullify(r, r.integers(0, 2, len(d["doc_id"])).tolist(), 0.05)))
    return rows


# WAL header/frame checksum (fileformat2 §4.4): pairs of 32-bit words in
# the byte order named by the magic number's low bit.
def _wal_checksum(data, s0, s1, big_endian):
    words = struct.unpack((">" if big_endian else "<") + "%dI" % (len(data) // 4), data)
    for i in range(0, len(words), 2):
        s0 = (s0 + words[i] + s1) & 0xFFFFFFFF
        s1 = (s1 + words[i + 1] + s0) & 0xFFFFFFFF
    return s0, s1


def reseal_wal(path, seed):
    """Replace the WAL's random salts with seeded ones and recompute the
    header checksum and every frame's cumulative checksum."""
    with open(path, "rb") as f:
        buf = bytearray(f.read())
    magic, _, page_size = struct.unpack(">III", buf[:12])
    big = bool(magic & 1)
    salt1, salt2 = struct.unpack(">II", hashlib.sha256(f"wal:{seed}".encode()).digest()[:8])
    struct.pack_into(">II", buf, 16, salt1, salt2)
    s0, s1 = _wal_checksum(bytes(buf[:24]), 0, 0, big)
    struct.pack_into(">II", buf, 24, s0, s1)
    off = 32
    while off + 24 + page_size <= len(buf):
        struct.pack_into(">II", buf, off + 8, salt1, salt2)
        s0, s1 = _wal_checksum(bytes(buf[off:off + 8]), s0, s1, big)
        s0, s1 = _wal_checksum(bytes(buf[off + 24:off + 24 + page_size]), s0, s1, big)
        struct.pack_into(">II", buf, off + 16, s0, s1)
        off += 24 + page_size
    with open(path, "wb") as f:
        f.write(bytes(buf))


# --------------------------------------------- reference coercion rules

_DATETIME = re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$")
_DATE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def parse_datetime(v):
    """Lenient DateTime parse: drop the fraction, trim, strict pattern,
    NULL (None) on a blank or malformed value. Returns epoch seconds."""
    if v is None:
        return None
    s = str(v).split(".", 1)[0].strip(" ")
    if not _DATETIME.match(s):
        return None
    try:
        t = dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S")
    except ValueError:
        return None
    return int((t - dt.datetime(1970, 1, 1)).total_seconds())


def parse_date(v):
    """Lenient Date parse: trim, strict pattern, None otherwise. ISO text."""
    if v is None:
        return None
    s = str(v).strip(" ")
    if not _DATE.match(s):
        return None
    try:
        return dt.datetime.strptime(s, "%Y-%m-%d").date().isoformat()
    except ValueError:
        return None


NULL = "\\N"


def coerce(value, decl, parse_temporal=True):
    """Canonical text of one source value after staging, by declared type.

    With ``parse_temporal`` DATE/DATETIME values follow the reference's
    lenient parse; without it they stage as their raw text (NULL as '')
    like any String column.
    """
    decl = decl.upper()
    if decl in ("INTEGER", "INT"):
        return str(0 if value is None else int(value))
    if decl in ("REAL", "FLOAT"):
        return repr(0.0 if value is None else float(value))
    if parse_temporal and decl == "DATETIME":
        p = parse_datetime(value)
        return NULL if p is None else str(p)
    if parse_temporal and decl == "DATE":
        p = parse_date(value)
        return NULL if p is None else p
    # TEXT, BOOLEAN, BLOB and unknown declarations stage as String
    if value is None:
        return ""
    if isinstance(value, bytes):
        return value.decode("utf-8")
    return str(value)


def row_digest(cells):
    h = hashlib.blake2b("\x1f".join(cells).encode(), digest_size=8).digest()
    return int.from_bytes(h, "little")


def make_sqlite(seed, out_dir, scale=SQLITE_SCALE["bench"]):
    """Write ``catalog.db`` (+ ``-wal``) and ``expected.json`` under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    build = os.path.join(out_dir, "build.db")
    db_path = os.path.join(out_dir, "catalog.db")
    for p in (build, build + "-wal", build + "-shm", db_path, db_path + "-wal"):
        if os.path.exists(p):
            os.remove(p)
    rows = sqlite_rows(seed, scale)
    con = sqlite3.connect(build)
    con.execute("PRAGMA page_size = 4096")
    con.execute("PRAGMA journal_mode = DELETE")
    for ddl in SQLITE_DDL:
        con.execute(ddl)
    for name, rs in rows.items():
        con.executemany(f"INSERT INTO {name} VALUES ({','.join('?' * len(rs[0]))})", rs)
    con.commit()
    assert con.execute("PRAGMA journal_mode = WAL").fetchone()[0] == "wal"
    con.execute("PRAGMA wal_autocheckpoint = 0")
    # committed transactions that stay in the WAL: they override base
    # pages, append new ones and drop rows
    r = _rng(seed, 4)
    n_ord = scale["orders"]
    for k in r.integers(0, n_ord, 60).tolist():
        con.execute("UPDATE orders SET o_orderstatus = 'F', o_totalprice = o_totalprice + 1.5 "
                    "WHERE o_orderkey = ?", (k,))
    con.commit()
    n_ev = scale["events"]
    extra = [(n_ev + i, f"2024-01-31 {i % 24:02d}:00:00.{i:06d}", i % 7, "view",
              float(i) + 0.25, '{"k": 1}', i % 2) for i in range(200)]
    con.executemany("INSERT INTO events VALUES (?,?,?,?,?,?,?)", extra)
    con.commit()
    con.execute("DELETE FROM documents WHERE doc_id % 37 = 5")
    con.commit()

    # Two checksums per table: "checksum" under the reference's rules
    # (temporal columns parsed) and "checksum_raw_temporal" with DATE and
    # DATETIME columns kept as text. Tables without temporal columns have
    # the same value in both.
    expected = {"tables": {}}
    for ddl in SQLITE_DDL:
        name = ddl.split()[2]
        decls = [(c[1], c[2]) for c in con.execute(f"PRAGMA table_info({name})")]
        count, acc, raw = 0, 0, 0
        for row in con.execute(f"SELECT * FROM {name}"):
            cells = [coerce(v, d) for v, (_, d) in zip(row, decls)]
            acc = (acc + row_digest(cells)) % (1 << 64)
            cells = [coerce(v, d, parse_temporal=False) for v, (_, d) in zip(row, decls)]
            raw = (raw + row_digest(cells)) % (1 << 64)
            count += 1
        expected["tables"][name] = {"rows": count, "checksum": acc,
                                    "checksum_raw_temporal": raw,
                                    "columns": [c for c, _ in decls]}
    # copy while the connection is open: closing would checkpoint the WAL
    shutil.copyfile(build, db_path)
    shutil.copyfile(build + "-wal", db_path + "-wal")
    con.close()
    for p in (build, build + "-wal", build + "-shm"):
        if os.path.exists(p):
            os.remove(p)
    reseal_wal(db_path + "-wal", seed)
    expected["rows"] = sum(t["rows"] for t in expected["tables"].values())
    expected["source_bytes"] = os.path.getsize(db_path) + os.path.getsize(db_path + "-wal")
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    return expected
