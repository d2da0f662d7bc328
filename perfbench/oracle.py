"""Expected results and the result checks.

Catalog entries are checked against the DuckDB oracle the engine ships with
each entry (``SparkEntry.oracleSql``), using the type-tagged, order-sensitive
fingerprint of ``tools/check.py``: columns sorted by name, each cell tagged
with its normalized arrow type, rows in delivered order, SHA-256. The
expected fingerprints are computed once per data directory and oracle text.

Ingest results are checked against the totals the NDJSON generator computed.
"""
import datetime
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_type(t):
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_large_string(t):
        return "string"
    if pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{norm_type(t.value_type)}>"
    if pa.types.is_timestamp(t):
        return f"timestamp[tz={t.tz}]"
    return str(t)


def norm_cell(v, t):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x, t.value_type) for x in v) + "]"
    if isinstance(v, datetime.datetime):
        return str(v)
    return str(v)


def fingerprint(tbl):
    """(sha256, row count) of an arrow table, as tools/check.py's table_sig
    with rows in delivered order."""
    cols = sorted(tbl.column_names)
    types = {c: norm_type(tbl.schema.field(c).type) for c in cols}
    ftypes = {c: tbl.schema.field(c).type for c in cols}
    data = {c: tbl.column(c).to_pylist() for c in cols}
    h = hashlib.sha256()
    for i in range(tbl.num_rows):
        row = "\x01".join(types[c] + "\x02" + norm_cell(data[c][i], ftypes[c])
                          for c in cols)
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest(), tbl.num_rows


def expected_fingerprints(data_dir, oracle_sql, names, cache_path):
    """Fingerprints of each named entry's oracle result over ``data_dir``,
    cached in ``cache_path``. Entries without oracle SQL map to None."""
    cache = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cache = json.load(f)
    todo = [n for n in names if n not in cache]
    if todo:
        import duckdb
        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        for n in todo:
            sql = oracle_sql.get(n)
            cache[n] = list(fingerprint(con.execute(sql).fetch_arrow_table())) if sql else None
        con.close()
        tmp = cache_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=0, sort_keys=True)
        os.replace(tmp, cache_path)
    return {n: cache[n] for n in names}


def result_fingerprint(result_dir):
    return fingerprint(pq.read_table(result_dir))


def expected_totals(batch_totals, batches):
    """Per event type ``[n, shard_sum, k_sum, cents, max_ts]`` summed over
    ``batches`` (max for the last field), as the ingest aggregate returns
    them: sorted by event type, types with no rows absent."""
    acc = {}
    for b in batches:
        for etype, (n, shard, k, cents, max_ts) in batch_totals[b].items():
            if n == 0:
                continue
            a = acc.setdefault(etype, [0, 0, 0, 0, None])
            a[0] += n
            a[1] += shard
            a[2] += k
            a[3] += cents
            a[4] = max_ts if a[4] is None else max(a[4], max_ts)
    return [[e] + acc[e] for e in sorted(acc)]
