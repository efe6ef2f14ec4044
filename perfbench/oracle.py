"""Expected table hashes for the corpus queries, and the check of each
written output against them.

The expected hash of a query comes from running its `SparkEntry.oracleSql`
entry in DuckDB over the same input tables, canonicalised the way
`tools/oracle_check.py` does it. A full oracle pass is slow, so hashes are
cached, keyed by the SQL text and the content of the inputs it reads:
first in `oracle_hashes.json` next to this file (committed), then in the
build directory of the checkout.
"""
import glob
import hashlib
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED = os.path.join(HERE, "oracle_hashes.json")


def canon(v):
    # same canonicalisation as tools/oracle_check.py (a test holds them equal)
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return format(v, ".12g")
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def summary(con, sql):
    """(sorted column names, row count, table hash) of a query's result."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return sorted(cols), len(rows), table_hash(cols, rows)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    return con


def file_digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def cache_key(sql, data_dir, spans_input_hash):
    """The SQL text (with its `{OUT}` placeholder) and the content of
    every input it can read: the data tables, and the span-input table
    when the SQL names `{OUT}`."""
    inputs = {
        os.path.basename(p): file_digest(p)
        for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet")))
    }
    if "{OUT}" in sql:
        inputs["{OUT}/spans_input"] = spans_input_hash
    blob = json.dumps({"sql": sql, "inputs": inputs}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()


def load(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def expected(queries, data_dir, oracle_dir, local_cache):
    """Expected (columns, rows, hash) per query; computes and caches misses.

    `oracle_dir` holds `oracle_sql.json` and the `spans_input` table the
    benchmark JVM dumped.
    """
    with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = connect(data_dir)
    spans = os.path.join(oracle_dir, "spans_input", "*.parquet")
    spans_hash = summary(con, f"SELECT * FROM '{spans}'")[2]
    cache = load(COMMITTED)
    local = load(local_cache)
    out, missed = {}, False
    for q in queries:
        key = cache_key(sqls[q], data_dir, spans_hash)
        hit = cache.get(key) or local.get(key)
        if hit is None:
            cols, n, h = summary(con, sqls[q].replace("{OUT}", oracle_dir))
            hit = local[key] = {"query": q, "columns": cols, "rows": n, "hash": h}
            missed = True
        out[q] = (hit["columns"], hit["rows"], hit["hash"])
    if missed:
        os.makedirs(os.path.dirname(local_cache), exist_ok=True)
        with open(local_cache, "w") as f:
            json.dump(local, f, indent=1, sort_keys=True)
    con.close()
    return out


def check_outputs(outputs, queries, want):
    """Compares every written output with the expected summary.

    Returns a list of `(query, reason)`, one per output that differs.
    """
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    bad = []
    for out in outputs:
        for q in queries:
            files = os.path.join(out, q, "*.parquet")
            if not glob.glob(files):
                bad.append((q, f"no output under {out}"))
                continue
            got = summary(con, f"SELECT * FROM '{files}'")
            if tuple(got) != tuple(want[q]):
                bad.append((q, f"rows {got[1]} vs {want[q][1]}, columns {got[0]} vs "
                               f"{want[q][0]}, hash equal: {got[2] == want[q][2]}"))
    con.close()
    return bad
