"""Output checks: query results against DuckDB answers, bronze tables
against the ingest generator's ground truth."""
import glob
import math
import os

import duckdb
import pyarrow as pa

# ------------------------------------------------------------------ queries


def _eq(x, y):
    if isinstance(x, float) and isinstance(y, float):
        return x == y or (math.isnan(x) and math.isnan(y))
    return x == y and type(x) == type(y)


def _row_key(row):
    return tuple((0, "") if v is None else (1, v) for v in row)


def _sorted(rows):
    try:
        return sorted(rows, key=_row_key)
    except TypeError:
        return sorted(rows, key=repr)


def compare_result(con, got_dir, want_path):
    """None when the Spark result at `got_dir` equals the answer at
    `want_path`: columns matched by name, rows sorted, values exact;
    nested-typed result columns are rejected.  Otherwise the first
    difference, as text."""
    if not glob.glob(os.path.join(got_dir, "*.parquet")):
        return "no result written"
    got = con.sql(f"SELECT * FROM read_parquet('{got_dir}/*.parquet')")
    want = con.sql(f"SELECT * FROM read_parquet('{want_path}')")
    gcols = [d[0] for d in got.description]
    wcols = [d[0] for d in want.description]
    nested = [c for c, t in zip(gcols, got.types) if any(k in str(t) for k in ("[]", "STRUCT", "MAP"))]
    if nested:
        return f"nested result columns {nested}"
    if sorted(gcols) != sorted(wcols):
        return f"columns {sorted(gcols)} != {sorted(wcols)}"
    order = sorted(wcols)
    gi = [gcols.index(c) for c in order]
    wi = [wcols.index(c) for c in order]
    grows = _sorted([tuple(r[i] for i in gi) for r in got.fetchall()])
    wrows = _sorted([tuple(r[i] for i in wi) for r in want.fetchall()])
    if len(grows) != len(wrows):
        return f"{len(grows)} rows != {len(wrows)}"
    for n, (g, w) in enumerate(zip(grows, wrows)):
        for c, a, b in zip(order, g, w):
            if not _eq(a, b):
                return f"row {n} column {c}: {a!r} != {b!r}"
    return None


def make_answer(con, data_dir, sql, out_path):
    """Runs one oracle query in DuckDB over the tables at `data_dir`."""
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    tmp = out_path + ".tmp"
    con.sql(f"COPY ({sql}) TO '{tmp}' (FORMAT parquet)")
    os.replace(tmp, out_path)


# ------------------------------------------------------------------- ingest

BLOCK_COLS = ("chain_name VARCHAR, block_number BIGINT, hash VARCHAR, parent_hash VARCHAR, "
              "timestamp BIGINT, miner VARCHAR, gas_used BIGINT, gas_limit BIGINT, "
              "size BIGINT, tx_count BIGINT")
TX_COLS = ("chain_name VARCHAR, block_number BIGINT, tx_hash VARCHAR, from_address VARCHAR, "
           "to_address VARCHAR, value VARCHAR, gas_price VARCHAR, gas VARCHAR, "
           "input VARCHAR, nonce BIGINT")
LOG_COLS = ("chain_name VARCHAR, block_number BIGINT, transaction_hash VARCHAR, "
            "log_index BIGINT, address VARCHAR, topics VARCHAR, data VARCHAR, "
            "decoded_event VARCHAR")


def _names(cols):
    return [c.split()[0] for c in cols.split(", ")]


def _load(con, name, rows, cols):
    arrow_types = {"VARCHAR": pa.string(), "BIGINT": pa.int64()}
    schema = pa.schema([(c.split()[0], arrow_types[c.split()[1]]) for c in cols.split(", ")])
    con.register(name, pa.Table.from_pylist(rows, schema=schema))


def _read(con, path, cols, select):
    """Bronze table at `path` as a relation with `cols`; empty when absent."""
    if glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True):
        return f"(SELECT {select} FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true))"
    return f"(SELECT {', '.join('NULL::' + c.split()[1] + ' AS ' + c.split()[0] for c in cols.split(', '))} WHERE false)"


def _keys(con, sql):
    return {(c, int(h)) for c, h in con.sql(sql).fetchall()}


def check_bronze(root, truth, with_logs):
    """Compares one pass's bronze tree (`bronze/`, `compacted/`) with the
    ground truth.  Returns (violations, counts): `violations` maps a
    (chain, height) key, or "compacted" for a block-set difference, to the
    first reason seen; `counts` holds the observed correctness counts."""
    con = duckdb.connect()
    _load(con, "exp_blocks", truth["blocks"], BLOCK_COLS)
    _load(con, "exp_txs", truth["txs"], TX_COLS)
    bronze, compacted = os.path.join(root, "bronze"), os.path.join(root, "compacted")
    bsel = ("chain_name, block_number, hash, parent_hash, epoch(timestamp)::BIGINT AS timestamp, "
            "miner, gas_used, gas_limit, size, tx_count")
    blocks = _read(con, os.path.join(compacted, "blocks"), BLOCK_COLS, bsel)
    raw_blocks = _read(con, os.path.join(bronze, "blocks"), BLOCK_COLS, bsel)
    txs = _read(con, os.path.join(bronze, "transactions"), TX_COLS, ", ".join(_names(TX_COLS)))
    violations = {}

    def note(keys, why):
        for k in keys:
            violations.setdefault(k, why)

    bcols = ", ".join(_names(BLOCK_COLS))
    diff = _keys(con, f"""SELECT chain_name, block_number FROM
        ((SELECT {bcols} FROM {blocks} EXCEPT ALL SELECT {bcols} FROM exp_blocks)
         UNION ALL (SELECT {bcols} FROM exp_blocks EXCEPT ALL SELECT {bcols} FROM {blocks}))""")
    if diff:
        violations["compacted"] = "compacted blocks differ from the canonical set"
    note(diff, "compacted block differs")
    note(_keys(con, f"""SELECT chain_name, block_number FROM {raw_blocks}
        GROUP BY chain_name, block_number, hash HAVING count(*) > 1"""), "duplicate block")
    tcols = ", ".join(_names(TX_COLS))
    note(_keys(con, f"""SELECT chain_name, block_number FROM
        (SELECT {tcols} FROM {txs} EXCEPT ALL SELECT {tcols} FROM exp_txs)"""),
         "unexpected or duplicate transaction")
    note(_keys(con, f"""SELECT chain_name, block_number FROM
        (SELECT {tcols} FROM exp_txs EXCEPT ALL SELECT {tcols} FROM {txs})"""),
         "missing transaction")
    canon = ""
    if glob.glob(os.path.join(compacted, "blocks", "**", "*.parquet"), recursive=True):
        canon = f"""EXCEPT SELECT chain_name, block_number, t.hash FROM
            (SELECT chain_name, block_number, unnest(transactions) AS t FROM
             read_parquet('{compacted}/blocks/**/*.parquet', hive_partitioning=true))"""
    note(_keys(con, f"""SELECT chain_name, block_number FROM
        (SELECT chain_name, block_number, tx_hash FROM {txs} {canon})"""),
         "transaction of a non-canonical block")
    counts = {
        "blocks": con.sql(f"SELECT count(*) FROM {blocks}").fetchone()[0],
        "txs": con.sql(f"SELECT count(*) FROM {txs}").fetchone()[0],
        "logs": 0, "logs_quarantine": 0}
    if with_logs:
        lsel = ("chain_name, block_number, transaction_hash, log_index, address, "
                "array_to_string(topics, '|') AS topics, data, decoded_event")
        lcols = ", ".join(_names(LOG_COLS))
        for table in ("logs", "logs_quarantine"):
            _load(con, "exp_" + table, truth[table], LOG_COLS)
            got = _read(con, os.path.join(bronze, table), LOG_COLS, lsel)
            note(_keys(con, f"""SELECT chain_name, block_number FROM
                ((SELECT {lcols} FROM {got} EXCEPT ALL SELECT {lcols} FROM exp_{table})
                 UNION ALL (SELECT {lcols} FROM exp_{table} EXCEPT ALL SELECT {lcols} FROM {got}))"""),
                 f"{table} differ")
            counts[table] = con.sql(f"SELECT count(*) FROM {got}").fetchone()[0]
    con.close()
    return violations, counts


def failed_units(violations, truth):
    """Unit names (batches or files) a violation is attributed to: the last
    unit that delivered the block at the violating (chain, height).  A key
    no unit delivered fails every unit."""
    where = {(c, h): truth["units"][u] for c, h, u in truth["where"]}
    out = set()
    for k in violations:
        if k == "compacted":
            continue
        out |= {where[k]} if k in where else set(truth["units"])
    return out
