#!/usr/bin/env python3
"""Generate src/test/resources/sqlite/lpt_fixture.db — a catalog whose
largest table is listed last, for the migration's largest-first
submission order (EtlSpec): three one-page tables (one_a, one_b,
one_c, 3 rows each) and then big (4000 rows over many 1024-byte pages,
with a DATE column the migration parses).

Run from the repo root, then rerun tools/make_ddl_fixture.py so
table_info.tsv lists the new file: python3 tools/make_lpt_fixture.py
"""
import os, sqlite3

out = "src/test/resources/sqlite/lpt_fixture.db"
if os.path.exists(out):
    os.remove(out)

db = sqlite3.connect(out)
db.execute("PRAGMA page_size = 1024")
for t in ("one_a", "one_b", "one_c"):
    db.execute(f"CREATE TABLE {t}(id INTEGER PRIMARY KEY, v TEXT)")
    db.executemany(f"INSERT INTO {t} VALUES (?, ?)",
                   [(i, f"{t}-{i}") for i in range(1, 4)])
db.execute("CREATE TABLE big(id INTEGER PRIMARY KEY, v TEXT, d DATE)")
db.executemany("INSERT INTO big VALUES (?, ?, ?)",
               [(i, f"row-{i:05d}", f"2024-{i % 12 + 1:02d}-{i % 28 + 1:02d}")
                for i in range(1, 4001)])
db.commit()
for t, in db.execute("SELECT name FROM sqlite_master WHERE type = 'table' "
                     "ORDER BY rowid").fetchall():
    print(t, db.execute(f"SELECT count(*), sum(id) FROM {t}").fetchone())
db.close()
print("wrote", out, os.path.getsize(out), "bytes")
