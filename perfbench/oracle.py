"""DuckDB check of the batch rows' results.

Each row's result (parquet written by the cold pass) is compared with
DuckDB running the row's `SparkEntry.oracleSql` over the same tables,
canonicalized as the repository's differential check does it: columns
sorted by name, floats rounded to 9 digits and type-tagged, rows sorted,
and the arrow dtype family of every column compared. A row without an
oracle must return at least one row. DuckDB's canonical answers are
cached per (oracle SQL, data) so later runs in a checkout only hash.
"""
import glob
import hashlib
import json
import os

import duckdb
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def arrow_family(t):
    if pa.types.is_integer(t): return "int"
    if pa.types.is_floating(t): return "float"
    if pa.types.is_decimal(t): return "decimal"
    if pa.types.is_string(t) or pa.types.is_large_string(t): return "string"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t): return "binary"
    if pa.types.is_date(t): return "date"
    if pa.types.is_timestamp(t): return "timestamp"
    if pa.types.is_boolean(t): return "bool"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_family(t.value_type)}>"
    return str(t)


def _cell(v):
    if isinstance(v, bool): return ("b", v)
    if isinstance(v, float):
        v = round(v, 9)
        return ("f", 0.0 if v == -0.0 else v)
    if isinstance(v, int): return ("i", v)
    if isinstance(v, list):
        return tuple(round(x, 9) if isinstance(x, float) else x for x in v)
    return v


def digest(tbl):
    """Hash of a result's canonical form: sorted columns, their dtype
    families and the sorted canonical rows."""
    names = list(tbl.schema.names)
    order = sorted(range(len(names)), key=lambda i: names[i])
    cols = [tbl.column(i).to_pylist() for i in order]
    rows = sorted((tuple(_cell(c[r]) for c in cols) for r in range(tbl.num_rows)), key=repr)
    head = [(names[i], arrow_family(tbl.schema.field(i).type)) for i in order]
    return hashlib.sha256(repr((head, rows)).encode()).hexdigest(), tbl.num_rows


def check(data_dir, run_dir, cache_dir, corrupt=False):
    """Returns (checked, mismatches) where mismatches lists row names with
    the reason."""
    oracle = json.load(open(os.path.join(run_dir, "oracle.json")))
    results = os.path.join(run_dir, "results")
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    os.makedirs(cache_dir, exist_ok=True)
    data_id = sorted((f, os.path.getsize(f)) for f in glob.glob(f"{data_dir}/*.parquet"))
    checked, bad, injected = 0, [], False
    for name in sorted(os.listdir(results)) if os.path.isdir(results) else []:
        files = glob.glob(os.path.join(results, name, "*.parquet"))
        if not files:
            bad.append(f"{name}: no result files")
            continue
        got, n = digest(con.sql(f"SELECT * FROM '{results}/{name}/*.parquet'").arrow())
        checked += 1
        sql = oracle.get(name)
        if sql is None:
            if n == 0: bad.append(f"{name}: empty result and no oracle")
            continue
        key = hashlib.sha256(repr((sql, [os.path.basename(f) for f, _ in data_id],
                                   [s for _, s in data_id])).encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        if os.path.exists(path):
            want = json.load(open(path))["digest"]
        else:
            want, _ = digest(con.sql(sql).arrow())
            with open(path, "w") as f:
                json.dump({"row": name, "digest": want}, f)
        if corrupt and not injected:
            want, injected = "corrupted-" + want, True
        if got != want:
            bad.append(f"{name}: result differs from the DuckDB oracle")
    return checked, bad
