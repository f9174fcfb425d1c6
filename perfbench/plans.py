"""Seeded operation plans for the two workloads.

A plan is a list of rounds; round 0 is the warm-up pass and rounds 1..
are the timed phase (run.py keeps as many as --seconds asks for). Every round holds
the same operation templates, once each, so every run attempts whole
rounds. The warm-up round runs them in a fixed order: the first
operations in a JVM pay for its first Spark jobs, so a seeded order
would let the seed decide which templates' cold times carry that cost.
The timed rounds run them in a seeded order, so a burst of host steal
spreads over all templates. Each operation carries the text of its own check: the DuckDB
query whose answer graft's result must equal.
"""
import datetime
import json
import os
import random

from gen import REFRESH_STATES

ROUNDS = 9  # the warm-up round and up to 8 timed rounds (--seconds 60)
EXPORT_FORMATS = ["csv", "json", "xlsx", "parquet"]
DAY0 = datetime.date(1995, 1, 2)


def _day(rng, lo_days, hi_days):
    return DAY0 + datetime.timedelta(days=rng.randrange(lo_days, hi_days))


def _ts(d):
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


# ---- files_interactive ----------------------------------------------------

def _dialect_typeof(c):
    """DuckDB spelling of SQLite typeof() over column c."""
    return (f"CASE WHEN ({c}) IS NULL THEN 'null' "
            f"WHEN lower(typeof({c})) IN ('tinyint','smallint','integer','bigint','hugeint','boolean') THEN 'integer' "
            f"WHEN lower(typeof({c})) IN ('float','double','real') THEN 'real' ELSE 'text' END")


def _export_query(size):
    return ("SELECT p.p_partkey, p.p_name, count(*) AS n, "
            "sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS qty "
            "FROM lineitem_csv l JOIN part_json p ON l.l_partkey = p.p_partkey "
            f"WHERE p.p_size = {size} GROUP BY p.p_partkey, p.p_name ORDER BY p.p_partkey")


def interactive_ops(rng, r, export_dir):
    """One round of files_interactive: (template, steps, check) triples."""
    d0 = _day(rng, 0, 2200)
    d1 = d0 + datetime.timedelta(days=120)
    keys = sorted(2 * k for k in rng.sample(range(75000), 3))  # orders.csv.gz holds even keys
    disc = rng.randrange(0, 9) / 100
    o0 = _day(rng, 0, 2300)
    o1 = o0 + datetime.timedelta(days=45)
    brand = f"Brand#{rng.randrange(1, 26)}"
    user = rng.randrange(0, 1400)
    glob_pat = f"Supplier#000000{rng.randrange(10)}[{rng.randrange(0, 5)}-{rng.randrange(5, 10)}]*"
    cust = rng.randrange(0, 15000)
    bal = rng.randrange(-900, 9000)
    same = lambda q: {"duck": q}
    ops = [
        ("point_lookup",
         f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority "
         f"FROM orders_csv_gz WHERE o_orderkey IN ({', '.join(map(str, keys))}) ORDER BY o_orderkey", None),
        ("scan_filter",
         "SELECT l_returnflag, l_linestatus, count(*) AS n, "
         "sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty, "
         "sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS price FROM lineitem_csv "
         f"WHERE l_shipdate >= {_ts(d0)} AND l_shipdate < {_ts(d1)} "
         f"AND l_discount >= {disc:.2f} AND l_discount <= {disc + 0.02:.2f} "
         "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus", None),
        ("group_by",
         "SELECT c_mktsegment, c_nationkey, count(*) AS n, "
         "sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal FROM customer_csv "
         f"WHERE c_acctbal > {bal} GROUP BY c_mktsegment, c_nationkey "
         "ORDER BY c_mktsegment, c_nationkey", None),
        ("join_gz_csv_xlsx",
         "SELECT n.n_name, count(*) AS orders, sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS total "
         "FROM orders_csv_gz o JOIN customer_csv c ON o.o_custkey = c.c_custkey "
         "JOIN nation_xlsx n ON c.c_nationkey = n.n_nationkey "
         f"WHERE o.o_orderdate >= {_ts(o0)} AND o.o_orderdate < {_ts(o1)} "
         "GROUP BY n.n_name ORDER BY n.n_name", None),
        ("join_csv_jsonarray",
         "SELECT p.p_type, count(*) AS n, sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS price "
         "FROM lineitem_csv l JOIN part_json p ON l.l_partkey = p.p_partkey "
         f"WHERE p.p_brand = '{brand}' GROUP BY p.p_type ORDER BY p.p_type", None),
        ("nested_ndjson",
         "SELECT get_json_object(who, '$.event_type') AS event_type, count(*) AS n, "
         "sum(CAST(value AS DECIMAL(18,2))) AS total FROM events_json "
         f"WHERE CAST(get_json_object(who, '$.user_id') AS BIGINT) BETWEEN {user} AND {user + 99} "
         "GROUP BY get_json_object(who, '$.event_type') ORDER BY event_type",
         "SELECT event_type, count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS total "
         f"FROM events_json WHERE user_id BETWEEN {user} AND {user + 99} "
         "GROUP BY event_type ORDER BY event_type"),
        ("sqlite_glob_quote_typeof",
         "SELECT s_suppkey, quote(s_name) AS q, typeof(s_suppkey) AS t_key, "
         "typeof(s_acctbal) AS t_bal, typeof(s_name) AS t_name FROM supplier_xlsx "
         f"WHERE glob(s_name, '{glob_pat}') ORDER BY s_suppkey",
         "SELECT s_suppkey, '''' || replace(s_name, '''', '''''') || '''' AS q, "
         f"{_dialect_typeof('s_suppkey')} AS t_key, {_dialect_typeof('s_acctbal')} AS t_bal, "
         f"{_dialect_typeof('s_name')} AS t_name FROM supplier_xlsx "
         f"WHERE s_name GLOB '{glob_pat}' ORDER BY s_suppkey"),
        ("sqlite_julianday",
         "SELECT o_orderkey, julianday(o_orderdate) AS jd FROM orders_csv_gz "
         f"WHERE o_custkey = {cust} ORDER BY o_orderkey",
         "SELECT o_orderkey, epoch_ms(o_orderdate)::DOUBLE / 86400000.0::DOUBLE + 2440587.5::DOUBLE AS jd "
         f"FROM orders_csv_gz WHERE o_custkey = {cust} ORDER BY o_orderkey"),
    ]
    out = [(tpl, [{"k": "sql", "sql": q}], same(duck or q)) for tpl, q, duck in ops]
    for tpl, _, check in out:
        if tpl in ("group_by", "join_gz_csv_xlsx"):
            check["customer_live"] = True
    out.append(("describe_tables", [{"k": "describe"}], {"describe": True}))  # settled later
    for fmt in EXPORT_FORMATS:
        q = _export_query(rng.randrange(1, 51))
        path = os.path.join(export_dir, f"r{r}_{fmt}.{fmt}")
        out.append((f"export_{fmt}", [{"k": "export", "sql": q, "path": path}],
                    {"export": path, "format": fmt, "duck": q}))
    return out


# ---- files under refresh (part of every files_interactive round) ------------

class LiveDir:
    """What the live directory's changing files hold as the plan runs: the
    NDJSON drop (absent until the first round writes it) and the version of
    customer.csv (None: the base file, i.e. the parquet truth)."""

    def __init__(self, stage, live_dir, manifest):
        self.stage = stage
        self.drop = os.path.join(live_dir, "events_drop.json")
        self.customer = os.path.join(live_dir, "customer.csv")
        self.manifest = manifest
        self.drop_files = None
        self.cust_version = None

    def customer_source(self):
        return _customer_csv(self.cust_version) if self.cust_version else "customer_csv"

    def describe_spec(self):
        """Expected `\\td` rows: table -> (DuckDB count query, columns)."""
        want = {_table_name(f): (m["rows"], m["cols"]) for f, m in self.manifest.items()}
        if self.cust_version:
            want["customer_csv"] = (f"SELECT count(*) FROM {self.customer_source()}", 5)
        if self.drop_files:
            want["events_drop_json"] = (f"SELECT count(*) FROM {_ndjson(self.drop_files)}", 5)
        return want


def _table_name(file_name):
    """graft.ingest.Naming for the base file names (dots become _)."""
    return file_name.replace(".", "_")


def _customer_csv(path):
    """DuckDB reader for a staged customer.csv version, with the truth's
    column types spelled out: DuckDB's sniffer has read an all-numeric
    c_acctbal column as VARCHAR."""
    return (f"read_csv('{path}', header=true, columns={{'c_custkey': 'BIGINT', "
            "'c_name': 'VARCHAR', 'c_nationkey': 'INTEGER', 'c_acctbal': 'DOUBLE', "
            "'c_mktsegment': 'VARCHAR'})")


def _ndjson(files):
    return "read_json([" + ", ".join(f"'{p}'" for p in files) + "], format='newline_delimited')"


def refresh_ops(r, live):
    """The refresh operations of round r: an append to the NDJSON drop
    (every REFRESH_STATES-th round rewrites it with its base rows) and a
    replacement of customer.csv by the next staged version. Each reloads
    with loadFile what changed before querying it; the interactive
    templates over customer_csv then read whichever version is live."""
    state = r % REFRESH_STATES
    if state == 0:
        mut = {"k": "copy", "from": live.stage["drop"][0], "to": live.drop}
    else:
        mut = {"k": "append", "from": live.stage["drop"][state], "to": live.drop}
    drop_files = live.stage["drop"][:state + 1]
    drop = ("drop_append", [mut, {"k": "load", "path": live.drop}, {
        "k": "sql", "sql":
        "SELECT get_json_object(who, '$.event_type') AS event_type, count(*) AS n, "
        "sum(CAST(value AS DECIMAL(18,2))) AS total, max(event_id) AS last_id "
        "FROM events_drop_json GROUP BY get_json_object(who, '$.event_type') ORDER BY event_type"}],
        {"duck": "SELECT who.event_type AS event_type, count(*) AS n, "
                 "sum(CAST(value AS DECIMAL(18,2))) AS total, max(event_id) AS last_id "
                 f"FROM {_ndjson(drop_files)} GROUP BY who.event_type ORDER BY event_type",
         "drop_files": drop_files})
    version = live.stage["versions"][state]
    seg_sql = ("SELECT c_mktsegment, count(*) AS n, sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal, "
               "max(c_custkey) AS last_key FROM customer_csv GROUP BY c_mktsegment ORDER BY c_mktsegment")
    replace = ("csv_replace", [{"k": "copy", "from": version, "to": live.customer},
                               {"k": "load", "path": live.customer}, {"k": "sql", "sql": seg_sql}],
               {"duck": _with("customer_csv", _customer_csv(version), seg_sql),
                "version": version})
    return [drop, replace]


def settle(ops, live):
    """Walks one shuffled round in run order, advancing the live files and
    writing the checks that depend on them."""
    for tpl, steps, check in ops:
        if "drop_files" in check:
            live.drop_files = check.pop("drop_files")
        elif "version" in check:
            live.cust_version = check.pop("version")
        elif check.pop("customer_live", False):
            if live.cust_version:
                check["duck"] = _with("customer_csv", live.customer_source(), check["duck"])
        elif check.get("describe"):
            check["describe"] = live.describe_spec()


def _with(name, source, sql):
    return f"WITH {name} AS (SELECT * FROM {source}) {sql}"


# ---- catalog_mix ----------------------------------------------------------

SINK_ARCS = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("b", "e"), ("c", "d"), ("c", "e")]
SINK_IDS = {"a": 11, "b": 12, "c": 13, "d": 14, "e": 15}


# The fast tier of the catalog, one query per cost bin, the same for every
# seed. The candidates were the catalog queries whose recorded local[8] warm
# wall was under 0.4 s, each timed once cold and once warm at local[4] on the
# reference host; those under 0.8 s warm were sorted by that cost, cut into
# 15 equal bins, and one query drawn per bin. Listed cheapest first (warm
# 0.09 s to 0.71 s). The seed only orders the sample: with a seeded sample,
# which queries ran moved cold_op_p50_s by a fifth between seeds.
CATALOG_SAMPLE = [
    "fz476_tvl", "fz599_comp", "q20_group_concat", "fz296_win2", "q44_date_fns",
    "fz698_csub", "q04_distinct", "fz610_csub", "x320_class_balance",
    "x135_mad_outliers", "fz144_agg", "x202_pareto_suppliers", "q74_cube",
    "x78_quality_filter", "x302_provenance_chains"]


def catalog_rounds(seed):
    rng = random.Random(seed)
    rounds = []
    for r in range(ROUNDS):
        ops = [(n, [{"k": "catalog", "name": n}], {"oracle": n}) for n in CATALOG_SAMPLE]
        ops.append(("pagerank_sinks", [{"k": "pagerank_sinks", "iterations": 1,
                                        "arcs": SINK_ARCS, "ids": SINK_IDS}],
                    {"pagerank_relabel": SINK_IDS}))
        if r > 0:
            rng.shuffle(ops)
        rounds.append(ops)
    return rounds


def as_plan(rounds):
    """Numbers the operations and splits steps from checks: the JVM gets
    the steps, run.py keeps the checks by operation id."""
    jvm, checks = [], {}
    for r, ops in enumerate(rounds):
        row = []
        for i, (tpl, steps, check) in enumerate(ops):
            oid = f"r{r}.{i}"
            row.append({"id": oid, "tpl": tpl, "steps": steps})
            checks[oid] = check
        jvm.append(row)
    return jvm, checks


def build(workload, seed, run_dir, stage=None, manifest=None):
    rng = random.Random(seed)
    if workload == "files_interactive":
        live = LiveDir(stage, os.path.join(run_dir, "live"), manifest)
        rounds = []
        for r in range(ROUNDS):
            ops = interactive_ops(rng, r, os.path.join(run_dir, "exports")) + refresh_ops(r, live)
            if r > 0:
                rng.shuffle(ops)
            settle(ops, live)
            rounds.append(ops)
    else:
        rounds = catalog_rounds(seed)
    return as_plan(rounds)


def dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)
