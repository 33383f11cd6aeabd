#!/usr/bin/env python3
"""Generate src/test/resources/sqlite/ddl_fixture.db,
src/test/resources/sqlite/generated_fixture.db and
src/test/resources/sqlite/table_info.tsv — sqlite's own reading of
CREATE TABLE text, the ground truth SqliteDdlSpec pins the reader's one
DDL parser (graft.sources.SqliteDdl) against.

ddl_fixture.db holds one table per CREATE TABLE form that a naive
table-SQL scanner misreads, 3 rows each:
  alias_case : "A" INTEGER + PRIMARY KEY(a) — the rowid alias across an
               identifier-case mismatch (A = rowid, pk A);
  named_pk   : CONSTRAINT pk_t PRIMARY KEY(id) — a named table-level
               key; id is still the rowid alias;
  uniq_tc    : UNIQUE(v) with no space before the paren — a table
               constraint, not a third column;
  check_tc   : CHECK(v>0) — likewise;
  quoted_col : "my col" — a quoted name holding a space;
  wr_case    : PRIMARY KEY(K) over k in a WITHOUT ROWID table — the
               record holds k first whatever case the key names it in;
  commented  : comments holding commas and parens, a column-level
               CONSTRAINT name and a lower-case integer type (the rowid
               alias);
  dup_uq     : UNIQUE(a) repeating a's column-level UNIQUE — sqlite makes
               no index for it, so sqlite_autoindex_dup_uq_2 is UNIQUE(b).

generated_fixture.db holds generated columns, which the reader refuses by
name (3 rows each, b computed from a):
  g_virtual : b TEXT GENERATED ALWAYS AS (a || 'x') VIRTUAL between a
              and c — b is absent from the record;
  g_stored  : b TEXT AS (a || 'y') STORED — b is in the record;
  plain     : no generated column, read as usual.
PRAGMA table_info leaves b out of both (table_xinfo marks it hidden 2
for VIRTUAL, 3 for STORED).

table_info.tsv lists sqlite's PRAGMA table_info (file, table, column,
type, pk) for every table of every committed *.db fixture. Each fixture
is opened through a temp copy (with its -wal / -journal sibling): sqlite
would leave a -shm file next to a WAL database, and it rolls a hot
journal back into the main file.

Run from the repo root: python3 tools/make_ddl_fixture.py
"""
import glob, os, shutil, sqlite3, tempfile

RES = "src/test/resources/sqlite"

TABLES = [
    ("alias_case", 'CREATE TABLE alias_case("A" INTEGER, b TEXT, PRIMARY KEY(a))',
     [(1, "b1"), (2, "b2"), (3, "b3")]),
    ("named_pk", "CREATE TABLE named_pk(id INTEGER, v TEXT, "
                 "CONSTRAINT pk_t PRIMARY KEY(id))",
     [(1, "v1"), (2, "v2"), (3, "v3")]),
    ("uniq_tc", "CREATE TABLE uniq_tc(id INTEGER PRIMARY KEY, v TEXT, UNIQUE(v))",
     [(1, "u1"), (2, "u2"), (3, "u3")]),
    ("check_tc", "CREATE TABLE check_tc(id INTEGER PRIMARY KEY, v INTEGER, "
                 "CHECK(v>0))",
     [(1, 10), (2, 20), (3, 30)]),
    ("quoted_col", 'CREATE TABLE quoted_col(id INTEGER PRIMARY KEY, "my col" TEXT)',
     [(1, "q1"), (2, "q2"), (3, "q3")]),
    ("wr_case", "CREATE TABLE wr_case(v INTEGER, k TEXT, PRIMARY KEY(K)) "
                "WITHOUT ROWID",
     [(1, "k1"), (2, "k2"), (3, "k3")]),
    ("commented", "CREATE TABLE commented(\n"
                  "  id integer CONSTRAINT pk_c PRIMARY KEY, -- the key, (a rowid alias)\n"
                  "  v TEXT /* free text, no (limit) */\n"
                  ")",
     [(1, "c1"), (2, "c2"), (3, "c3")]),
    ("dup_uq", "CREATE TABLE dup_uq(id INTEGER PRIMARY KEY, a TEXT UNIQUE, "
               "b TEXT, UNIQUE(a), UNIQUE(b))",
     [(1, "x1", "x3"), (2, "x2", "x2"), (3, "x3", "x1")]),
]

GENERATED = [
    ("g_virtual", "CREATE TABLE g_virtual(a INTEGER, "
                  "b TEXT GENERATED ALWAYS AS (a || 'x') VIRTUAL, c TEXT)",
     "a, c", [(1, "c1"), (2, "c2"), (3, "c3")]),
    ("g_stored", "CREATE TABLE g_stored(a INTEGER, b TEXT AS (a || 'y') STORED, "
                 "c TEXT)",
     "a, c", [(1, "c1"), (2, "c2"), (3, "c3")]),
    ("plain", "CREATE TABLE plain(a INTEGER, c TEXT)",
     "a, c", [(1, "c1"), (2, "c2"), (3, "c3")]),
]


def write(path, tables):
    """Create `path` holding `tables`: (name, ddl, the columns the rows
    fill or None for all, rows)."""
    if os.path.exists(path):
        os.remove(path)
    db = sqlite3.connect(path)
    for name, ddl, cols, rows in tables:
        db.execute(ddl)
        target = name if cols is None else f"{name}({cols})"
        db.executemany(f"INSERT INTO {target} VALUES "
                       f"({','.join('?' * len(rows[0]))})", rows)
    db.commit()
    for name, *_ in tables:
        print(name, "table_xinfo:", [(r[1], r[2], r[5], r[6]) for r in
                                     db.execute(f"PRAGMA table_xinfo({name})")])
        print(name, "rows:", db.execute(f"SELECT * FROM {name}").fetchall())
        for r in db.execute(f"PRAGMA index_list({name})"):
            print(name, r[1], [(x[2], x[3], x[4]) for x in db.execute(
                f"PRAGMA index_xinfo('{r[1]}')") if x[1] >= 0])
    db.close()
    print("wrote", path, os.path.getsize(path), "bytes")


write(os.path.join(RES, "ddl_fixture.db"),
      [(n, ddl, None, rows) for n, ddl, rows in TABLES])
write(os.path.join(RES, "generated_fixture.db"), GENERATED)


def table_info(path):
    """(table, column, type, pk) rows sqlite reports for one fixture."""
    tmp = tempfile.mkdtemp()
    try:
        copy = os.path.join(tmp, os.path.basename(path))
        for f in [path] + [path + s for s in ("-wal", "-journal")]:
            if os.path.exists(f):
                shutil.copyfile(f, copy + f[len(path):])
        db = sqlite3.connect(copy)
        try:
            names = [r[0] for r in db.execute(
                "SELECT name FROM sqlite_master WHERE type = 'table' "
                "AND name NOT LIKE 'sqlite_%' ORDER BY rowid")]
            return [(t, r[1], r[2], r[5]) for t in names
                    for r in db.execute(f'PRAGMA table_info("{t}")')]
        finally:
            db.close()
    finally:
        shutil.rmtree(tmp)


tsv = os.path.join(RES, "table_info.tsv")
with open(tsv, "w") as f:
    f.write("file\ttable\tcolumn\ttype\tpk\n")
    for path in sorted(glob.glob(os.path.join(RES, "*.db"))):
        for t, c, ty, pk in table_info(path):
            f.write(f"{os.path.basename(path)}\t{t}\t{c}\t{ty}\t{pk}\n")
print("wrote", tsv)
