"""Output checks: every operation's rows against an independent DuckDB answer.

The rows the JVM dumped for the first execution of each distinct operation
are rebuilt as the Python values a Parquet reader would give and hashed
with `tools/check_oracle.py`'s canonical hash; so is DuckDB's answer.
  sql / query / ppr   the same SQL text, or the engine's oracle SQL, in
                      DuckDB over the same files (multi-file tables bound
                      with a glob);
  fileview            the file listing of the input directory;
  lake ops            a DuckDB replay of the commit script.
Repeated executions of an operation are compared, in the JVM, with the
fingerprint of its first execution. Every operation must return rows: the
generated inputs are sized so that none is empty, and an empty result
would prove nothing.
"""
import datetime
import decimal
import glob
import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from check_oracle import TABLES, table_hash  # noqa: E402

LAKE_COLUMNS = "id BIGINT, grp VARCHAR, day INTEGER, value DOUBLE"


def _convert(v, t):
    if v is None:
        return None
    if t in ("double", "float"):
        return float(v)
    if t == "date":
        return datetime.date.fromisoformat(v)
    if t == "timestamp_ntz":
        return datetime.datetime.fromisoformat(v)
    if t == "timestamp":
        return datetime.datetime.fromtimestamp(v / 1e6, tz=datetime.timezone.utc)
    if t.startswith("decimal"):
        return decimal.Decimal(v)
    if t.startswith("array<"):
        return [_convert(x, t[6:-1]) for x in v]
    return v


def load_dump(path):
    with open(path) as f:
        d = json.load(f)
    types = d["types"]
    rows = [tuple(_convert(v, t) for v, t in zip(r, types)) for r in d["rows"]]
    return d["columns"], rows


def same(names_a, rows_a, names_b, rows_b):
    """check_oracle's comparison: column-name set, row count, canonical hash."""
    if sorted(names_a) != sorted(names_b) or len(rows_a) != len(rows_b):
        return False
    return table_hash(names_a, rows_a) == table_hash(names_b, rows_b)


def connect(data):
    con = duckdb.connect()
    for t in TABLES:
        if glob.glob(os.path.join(data, f"{t}.parquet", "*.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data, t + '.parquet', '*.parquet')}')")
    return con


def query(con, sql):
    res = con.execute(sql)
    return [c[0] for c in res.description], res.fetchall()


def _files(data, table):
    fs = sorted(glob.glob(os.path.join(data, f"{table}.parquet", "*.parquet")))
    return [(f"{table}.parquet/{os.path.basename(f)}", os.path.getsize(f)) for f in fs]


def expected_static(con, data, op, oracles):
    """Expected (columns, rows) of a stateless operation, or None if it has
    no independent answer."""
    kind = op["kind"]
    if kind == "sql":
        return query(con, op["text"])
    if kind in ("query", "ppr"):
        if op["id"] == "dashboard_fileview":
            rows = []
            for t in ("documents", "lineitem", "orders"):
                n = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                rows.append((t, len(_files(data, t)), n))
            return ["table_name", "n_files", "n_rows"], rows
        sql = oracles.get(op["id"])
        return query(con, sql) if sql else None
    if kind == "fileview":
        table = op["glob"].split(".parquet")[0]
        return ["file", "file_size"], _files(data, table)
    return None


class LakeReplay:
    """The commit script applied to DuckDB tables, one table per version."""

    def __init__(self, data):
        self.data = data
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE cur ({LAKE_COLUMNS})")
        self.version = 0
        self.has_deletes = False
        self.feed_pending = []

    def _batch(self, op):
        return f"read_parquet('{os.path.join(self.data, op['batch'])}')"

    def _snap(self, v):
        self.version = v
        self.con.execute(f"CREATE OR REPLACE TABLE v{v} AS SELECT * FROM cur")

    def _agg(self, table):
        return query(self.con, f"""SELECT grp, count(*) AS n, sum(id) AS sum_id,
            min(id) AS min_id, max(id) AS max_id,
            floor(sum(value) * 100 + 0.5) / 100 AS sum_value
            FROM {table} GROUP BY grp ORDER BY grp""")

    def apply(self, op, got):
        """Apply `op`; return the expected (columns, rows). Operations
        checked by a rule instead (feed_append, meta_agg) return `got`
        when it passes."""
        k = op["kind"]
        v_got = got[1][0][0] if got and got[1] else None
        if k in ("append", "merge", "delete", "compact"):
            if k == "append":
                self.con.execute(f"INSERT INTO cur SELECT * FROM {self._batch(op)}")
            elif k == "delete":
                self.con.execute(f"DELETE FROM cur WHERE id IN (SELECT id FROM {self._batch(op)})")
                self.has_deletes = True
            elif k == "merge":
                self.con.execute(f"DELETE FROM cur WHERE id IN (SELECT id FROM {self._batch(op)})")
                self.con.execute(f"INSERT INTO cur SELECT * FROM {self._batch(op)}")
                self.has_deletes = True
            else:
                self.has_deletes = False
            expect = self.version + 1
            self._snap(expect if v_got is None else v_got)
            return ["version"], [(expect,)]
        if k == "feed_append":
            self.feed_pending.append(op)
            return got  # the feed's own version numbering is checked by stream_tail
        if k == "vacuum":
            return ["keep_from"], [(max(1, self.version - op["keep"] + 1),)]
        if k == "read_current":
            return self._agg("cur")
        if k == "read_version":
            return self._agg(f"v{max(1, self.version - op['back'])}")
        if k == "read_pruned":
            return query(self.con, f"SELECT * FROM cur WHERE id BETWEEN {op['lo']} AND {op['hi']} ORDER BY id")
        if k == "diff":
            a, b = f"v{max(1, self.version - op['back'])}", f"v{self.version}"
            return query(self.con, f"""SELECT change, count(*) AS n, sum(id) AS sum_id,
                floor(sum(value) * 100 + 0.5) / 100 AS sum_value FROM (
                  SELECT *, 'add' AS change FROM (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a})
                  UNION ALL
                  SELECT *, 'del' AS change FROM (SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}))
                GROUP BY change ORDER BY change""")
        if k == "stream_tail":
            n = s = 0
            for f in self.feed_pending:
                n2, s2 = self.con.execute(f"SELECT count(*), coalesce(sum(id), 0) FROM {self._batch(f)}").fetchone()
                n, s = n + n2, s + s2
            self.feed_pending = []
            return ["n", "sum_id"], [(n, s)]
        if k == "meta_agg":
            n, lo, hi = self.con.execute("SELECT count(*), min(id), max(id) FROM cur").fetchone()
            row = got[1][0] if got and got[1] else (None, None, None)
            # the manifest declines (NULL) while delete files are pending;
            # otherwise it must answer exactly
            ok = (row == (n, lo, hi)) or (self.has_deletes and row[0] is None and row[1] is None)
            return got if ok else (["n", "min_id", "max_id"], [(n, lo, hi)])
        raise KeyError(k)


def verify(out, data, plan, result):
    """Mark each op record of `result` with `ok`; return the failure notes."""
    oracles = result.get("oracles", {})
    by_id = {op["id"]: op for op in plan["first"] + plan["timed"]}
    con = connect(data)
    replay = LakeReplay(data) if plan["workload"] == "lake" else None
    verdict = {}
    notes = []
    for rec in sorted(result["ops"], key=lambda r: r["seq"]):
        op = by_id[rec["id"]]
        dump = os.path.join(out, "rows", f"{rec['id']}.json")
        if rec["id"] in verdict and replay is None:
            rec["ok"] = verdict[rec["id"]] and "error" not in rec
        else:
            got = load_dump(dump) if os.path.exists(dump) else None
            try:
                exp = replay.apply(op, got) if replay else expected_static(con, data, op, oracles)
                ok = got is not None and exp is not None and same(*got, *exp) and len(got[1]) > 0
                if not ok:
                    notes.append(f"{rec['id']}: " + ("no result" if got is None else
                                 "no oracle" if exp is None else
                                 "empty result" if not got[1] else "mismatch"))
            except Exception as e:  # an oracle that cannot run is a failed check
                ok = False
                notes.append(f"{rec['id']}: check error {type(e).__name__}: {e}")
            verdict[rec["id"]] = ok
            rec["ok"] = ok and "error" not in rec
        if "error" in rec:
            notes.append(f"{rec['id']}: {rec['error']}")
    return notes
