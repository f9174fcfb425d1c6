"""Correctness checks for the benchmark's operations, made apart from graft.

- files operations: the same question answered by DuckDB over the parquet
  truth (or over the staged files a refresh step copied in), compared
  after normalising values: rows sorted, numbers rounded to cents,
  timestamps as ISO text;
- exports: the exported file read back by DuckDB (XLSX by the standard
  library reader in gen.py) and compared with the query it was saved from;
- catalog operations: the query's own DuckDB oracle (SparkEntry.oracleSql),
  compared as tools/check.py does: columns sorted by name, rows in
  order, values exact;
- pagerank_sinks: the property that relabelling the nodes to long ids does
  not change any score.
"""
import datetime
import hashlib
import math
import os
import pickle
from decimal import Decimal, ROUND_HALF_EVEN

from gen import read_xlsx

CENT = Decimal("0.01")

# Operations that fail on every run because of a known fault in graft:
# Graph.pageRank builds its string dictionary from distinct src only and
# inner-joins dst against it, so arcs into sink nodes vanish.
KNOWN_FAULTS = {"pagerank_sinks"}


def _iso(t):
    if t.tzinfo is not None:
        t = t.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    s = t.strftime("%Y-%m-%d %H:%M:%S")
    return s + f".{t.microsecond:06d}" if t.microsecond else s


def norm(v, cents):
    """Comparable form of one cell, from either engine."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, dict):
        if set(v) == {"d"}:  # a decimal from the JVM record
            return _num(Decimal(v["d"]), cents)
        return tuple(sorted((k, norm(x, cents)) for k, x in v.items()))
    if isinstance(v, float):
        return None if math.isnan(v) else _num(Decimal(repr(v)), cents)
    if isinstance(v, (int, Decimal)):
        return _num(Decimal(v), cents)
    if isinstance(v, datetime.datetime):
        return _iso(v)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x, cents) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def _num(d, cents):
    return d.quantize(CENT, rounding=ROUND_HALF_EVEN) if cents and d.is_finite() else d


def _text_cell(s):
    """A cell read from exported text (XLSX): numbers parsed back."""
    if s is None:
        return None
    for conv in (int, float):
        try:
            return conv(s)
        except ValueError:
            pass
    return s


def _sorted_rows(rows, cents=True):
    out = [tuple(norm(c, cents) for c in r) for r in rows]
    return sorted(out, key=lambda r: tuple("" if c is None else str(c) for c in r))


class Checker:
    def __init__(self, con, cache_dir):
        self.con = con
        self.cache_dir = cache_dir
        self.memo = {}
        self.oracles = {}

    def duck(self, sql):
        if sql not in self.memo:
            cur = self.con.execute(sql)
            self.memo[sql] = ([d[0] for d in cur.description], cur.fetchall())
        return self.memo[sql]

    def oracle(self, sql):
        """A catalog oracle's answer, cached on disk by its text: the
        parquet truth never changes, and some oracles take seconds."""
        key = hashlib.sha1(sql.encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        ans = self.duck(sql)
        os.makedirs(self.cache_dir, exist_ok=True)
        with open(path + ".tmp", "wb") as f:
            pickle.dump(ans, f)
        os.replace(path + ".tmp", path)
        return ans

    # -- one operation ------------------------------------------------------

    def check(self, op, spec):
        """None if the operation's output is right, else why not."""
        if op.get("err"):
            return op["err"]
        steps = op["steps"]
        try:
            if "oracle" in spec:
                return self._catalog(steps[-1], spec["oracle"])
            if "pagerank_relabel" in spec:
                return self._relabel(steps[-1], spec["pagerank_relabel"])
            if "describe" in spec:
                return self._describe(steps[-1], spec["describe"])
            if "export" in spec:
                return self._export(spec)
            return self._rows(steps[-1], spec["duck"])
        except Exception as e:  # a check that cannot run is a failed check
            return f"check error: {type(e).__name__}: {e}"

    def _rows(self, step, sql):
        cols, rows = self.duck(sql)
        if len(cols) != len(step["cols"]):
            return f"columns {step['cols']} vs {cols}"
        got, want = _sorted_rows(step["rows"]), _sorted_rows(rows)
        if got != want:
            return _diff(got, want)
        return None

    def _catalog(self, step, name):
        sql = self.oracles.get(name)
        if sql is None:
            return f"no oracle for {name}"
        cols, rows = self.oracle(sql)
        if sorted(cols) != sorted(step["cols"]):
            return f"schema {sorted(step['cols'])} vs {sorted(cols)}"
        if len(rows) != len(step["rows"]):
            return f"rows {len(step['rows'])} vs {len(rows)}"
        gi = sorted(range(len(cols)), key=lambda i: step["cols"][i])
        wi = sorted(range(len(cols)), key=lambda i: cols[i])
        got = [tuple(norm(r[i], False) for i in gi) for r in step["rows"]]
        want = [tuple(norm(r[i], False) for i in wi) for r in rows]
        if got != want:
            return _diff(got, want)
        return None

    def _relabel(self, step, ids):
        by_name = sorted((ids[n], norm(s, False)) for n, s in step["rows"])
        by_id = sorted((n, norm(s, False)) for n, s in step["rows_long"])
        if by_name != by_id:
            return (f"string ids give {len(by_name)} nodes {by_name}, "
                    f"long ids give {len(by_id)} nodes {by_id}")
        return None

    def _describe(self, step, spec):
        want = {n: (rows if isinstance(rows, int) else self.duck(rows)[1][0][0], cols)
                for n, (rows, cols) in spec.items()}
        got = {n: (rows, cols) for n, rows, cols, size in step["rows"]}
        if got != want:
            return f"describeTables {sorted(got.items())} vs {sorted(want.items())}"
        if any(size <= 0 for _, _, _, size in step["rows"]):
            return "describeTables reports a table of 0 bytes"
        return None

    def _export(self, spec):
        path, fmt = spec["export"], spec["format"]
        if fmt == "xlsx":
            cols, rows = read_xlsx(path)
            rows = [[_text_cell(c) for c in r] for r in rows]
        else:
            reader = {"csv": "read_csv('{}', header=true)",
                      "json": "read_json('{}', format='newline_delimited')",
                      "parquet": "read_parquet('{}')"}[fmt].format(path)
            cur = self.con.execute(f"SELECT * FROM {reader}")
            cols, rows = [d[0] for d in cur.description], cur.fetchall()
        want_cols, want = self.duck(spec["duck"])
        if sorted(cols) != sorted(want_cols):
            return f"exported columns {cols} vs {want_cols}"
        order = [cols.index(c) for c in want_cols]
        got = _sorted_rows([[r[i] for i in order] for r in rows])
        if got != _sorted_rows(want):
            return "exported file: " + _diff(got, _sorted_rows(want))
        return None


def _diff(got, want):
    if len(got) != len(want):
        return f"{len(got)} rows vs {len(want)} expected"
    i = next(i for i, (a, b) in enumerate(zip(got, want)) if a != b)
    return f"row {i}: {got[i]} vs expected {want[i]}"
