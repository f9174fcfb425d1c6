"""Input generator for the graft benchmark.

Everything here is made outside graft: DuckDB reads the sf0.1 parquet
tables and COPYs them out as CSV, CSV.gz, NDJSON and a JSON-array
document; a small standard-library zip+XML writer makes the XLSX files.

`base_inputs` is seed-independent (the file set files_interactive
loads). `refresh_stage` is seeded: the rows appended to the NDJSON drop and
the versions a CSV is replaced by.
`truth_views` gives the DuckDB views over the parquet truth that the
correctness checks query.
"""
import hashlib
import json
import os
import random
import shutil
import zipfile
from xml.sax.saxutils import escape

import duckdb

# The big tables are cut so that one query's full scan of a text file
# stays a few hundred ms at local[4]: the per-query fixed cost, not the
# parse, is what a few-MB file set makes visible.
LINEITEM_CUT = "l_orderkey % 10 = 0"
ORDERS_CUT = "o_orderkey % 2 = 0"
EVENTS_CUT = "event_id % 4 = 0"
PART_CUT = "p_partkey % 2 = 0"

# file name -> (DuckDB SELECT over the parquet truth, writer)
BASE_FILES = {
    "lineitem.csv": (f"SELECT * FROM lineitem WHERE {LINEITEM_CUT}", "csv"),
    "orders.csv.gz": (f"SELECT * FROM orders WHERE {ORDERS_CUT}", "csv.gz"),
    "customer.csv": ("SELECT * FROM customer", "csv"),
    "events.json": (
        "SELECT event_id, ts, {'user_id': user_id, 'event_type': event_type} AS who, "
        f"value, props::JSON AS props FROM events WHERE {EVENTS_CUT}", "ndjson"),
    "part.json": (f"SELECT * FROM part WHERE {PART_CUT}", "jsonarray"),
    "supplier.xlsx": ("SELECT * FROM supplier ORDER BY s_suppkey", "xlsx"),
    "nation.xlsx": ("SELECT * FROM nation ORDER BY n_nationkey", "xlsx"),
}

TRUTH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]


def connect(sf_dir, threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET TimeZone = 'UTC'")
    for t in TRUTH_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def truth_views(con):
    """Views named like the tables graft registers for the base files,
    defined over the parquet truth (not over the files)."""
    con.execute(f"CREATE OR REPLACE VIEW lineitem_csv AS SELECT * FROM lineitem WHERE {LINEITEM_CUT}")
    con.execute(f"CREATE OR REPLACE VIEW orders_csv_gz AS SELECT * FROM orders WHERE {ORDERS_CUT}")
    con.execute("CREATE OR REPLACE VIEW customer_csv AS SELECT * FROM customer")
    con.execute(f"CREATE OR REPLACE VIEW events_json AS SELECT * FROM events WHERE {EVENTS_CUT}")
    con.execute(f"CREATE OR REPLACE VIEW part_json AS SELECT * FROM part WHERE {PART_CUT}")
    con.execute("CREATE OR REPLACE VIEW supplier_xlsx AS SELECT * FROM supplier")
    con.execute("CREATE OR REPLACE VIEW nation_xlsx AS SELECT * FROM nation")


def write(con, select, path, kind):
    tmp = path + ".tmp"
    if kind == "csv":
        con.execute(f"COPY ({select}) TO '{tmp}' (FORMAT CSV, HEADER)")
    elif kind == "csv.gz":
        con.execute(f"COPY ({select}) TO '{tmp}' (FORMAT CSV, HEADER, COMPRESSION GZIP)")
    elif kind == "ndjson":
        con.execute(f"COPY ({select}) TO '{tmp}' (FORMAT JSON)")
    elif kind == "jsonarray":
        # DuckDB writes one object per line; the document is re-laid out
        # with one field per line, as editors and pretty-printers save it
        con.execute(f"COPY ({select}) TO '{tmp}' (FORMAT JSON, ARRAY TRUE)")
        with open(tmp) as f:
            doc = json.load(f)
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
    elif kind == "xlsx":
        cur = con.execute(select)
        header = [d[0] for d in cur.description]
        write_xlsx(tmp, header, cur.fetchall())
    else:
        raise ValueError(kind)
    os.replace(tmp, path)


def base_inputs(sf_dir, out_dir):
    """Write the seed-independent file set, once per version of this
    generator; returns its manifest (rows, columns and bytes per file)."""
    # beside the directory, not in it: loadDir would load it as a table
    manifest_path = os.path.join(os.path.dirname(os.path.abspath(out_dir)), "base_manifest.json")
    with open(__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.pop("generator", None) == version and all(
                os.path.exists(os.path.join(out_dir, n)) for n in BASE_FILES):
            return manifest
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    con = connect(sf_dir)
    manifest = {}
    for name, (select, kind) in BASE_FILES.items():
        path = os.path.join(out_dir, name)
        write(con, select, path, kind)
        rows = con.execute(f"SELECT count(*) FROM ({select})").fetchone()[0]
        cols = len(con.execute(f"SELECT * FROM ({select}) LIMIT 0").description)
        manifest[name] = {"rows": rows, "cols": cols, "bytes": os.path.getsize(path),
                          "format": kind}
    with open(manifest_path, "w") as f:
        json.dump(dict(manifest, generator=version), f, indent=1, sort_keys=True)
    return manifest


# ---- staging for the files that change ------------------------------------------------

REFRESH_STATES = 4  # the drop and the replaced CSV cycle through 4 states


def refresh_stage(con, seed, stage_dir):
    """Seeded contents of the files that change under the session: the
    NDJSON drop's base rows and appended chunks, and the versions that
    replace customer.csv."""
    rng = random.Random(seed * 7919 + 17)
    os.makedirs(stage_dir, exist_ok=True)
    ev = ("SELECT event_id, ts, {'user_id': user_id, 'event_type': event_type} AS who, "
          "value, props::JSON AS props FROM events")
    drop = [os.path.join(stage_dir, "drop_base.json")]
    write(con, f"{ev} WHERE event_id % 10 = {rng.randrange(10)}", drop[0], "ndjson")
    for k in range(REFRESH_STATES - 1):
        lo = rng.randrange(0, 90000)
        path = os.path.join(stage_dir, f"drop_chunk{k}.json")
        write(con, f"{ev} WHERE event_id % 2 = 1 AND event_id BETWEEN {lo} AND {lo + 3999}",
              path, "ndjson")
        drop.append(path)
    versions = []
    for k in range(REFRESH_STATES):
        a, b = rng.randrange(1, 97), rng.randrange(0, 7)
        bump = rng.randrange(1, 500)
        path = os.path.join(stage_dir, f"customer_v{k}.csv")
        write(con, f"SELECT c_custkey, c_name, c_nationkey, "
                   f"round(c_acctbal + CASE WHEN c_custkey % 3 = 0 THEN {bump} ELSE 0 END, 2) AS c_acctbal, "
                   f"c_mktsegment FROM customer WHERE (c_custkey * {a} + {b}) % 7 <> 0 "
                   f"ORDER BY c_custkey", path, "csv")
        versions.append(path)
    return {"drop": drop, "versions": versions}


# ---- XLSX (zip of XML parts), standard library only ------------------------

_CONTENT_TYPES = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
    '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
    '<Default Extension="xml" ContentType="application/xml"/>'
    '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
    '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
    '</Types>')
_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
    '</Relationships>')
_WORKBOOK = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
    'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
    '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>')
_WORKBOOK_RELS = (
    '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
    '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
    '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
    '</Relationships>')


def _col_ref(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, header, rows):
    """One sheet, shared-strings table for text cells, numbers inline."""
    strings, index = [], {}

    def sid(s):
        if s not in index:
            index[s] = len(strings)
            strings.append(s)
        return index[s]

    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>']
    for r, row in enumerate([header] + [list(x) for x in rows], start=1):
        out.append(f'<row r="{r}">')
        for c, v in enumerate(row):
            ref = f"{_col_ref(c)}{r}"
            if v is None:
                continue
            if isinstance(v, bool):
                out.append(f'<c r="{ref}" t="b"><v>{int(v)}</v></c>')
            elif isinstance(v, (int, float)):
                out.append(f'<c r="{ref}"><v>{v!r}</v></c>')
            else:
                out.append(f'<c r="{ref}" t="s"><v>{sid(str(v))}</v></c>')
        out.append("</row>")
    out.append("</sheetData></worksheet>")
    sst = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
           f'<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           f'count="{len(strings)}" uniqueCount="{len(strings)}">']
    sst += [f"<si><t>{escape(s)}</t></si>" for s in strings]
    sst.append("</sst>")
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", _CONTENT_TYPES)
        z.writestr("_rels/.rels", _RELS)
        z.writestr("xl/workbook.xml", _WORKBOOK)
        z.writestr("xl/_rels/workbook.xml.rels", _WORKBOOK_RELS)
        z.writestr("xl/worksheets/sheet1.xml", "".join(out))
        z.writestr("xl/sharedStrings.xml", "".join(sst))


def read_xlsx(path):
    """First sheet as (header, rows of str|None); inline and shared
    strings resolved. Numbers stay text; the checker parses them."""
    import xml.etree.ElementTree as ET
    ns = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as z:
        shared = []
        if "xl/sharedStrings.xml" in z.namelist():
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(f"{ns}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{ns}t")))
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    grid = []
    for row in sheet.iter(f"{ns}row"):
        cells = {}
        for pos, c in enumerate(row.findall(f"{ns}c")):
            ref = c.get("r")
            col = pos
            if ref:
                letters = "".join(ch for ch in ref if ch.isalpha())
                col = 0
                for ch in letters:
                    col = col * 26 + ord(ch) - 64
                col -= 1
            t = c.get("t", "n")
            if t == "inlineStr":
                val = "".join(x.text or "" for x in c.iter(f"{ns}t"))
            else:
                v = c.find(f"{ns}v")
                val = None if v is None else v.text
                if t == "s" and val is not None:
                    val = shared[int(val)]
            cells[col] = val
        width = max(cells) + 1 if cells else 0
        grid.append([cells.get(i) for i in range(width)])
    header, body = grid[0], grid[1:]
    return header, [r + [None] * (len(header) - len(r)) for r in body]
