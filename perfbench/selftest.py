"""Checker self-test: each checker is fed a correct output and perturbed
copies of it (a dropped row, a changed value, a duplicated transaction, an
orphan transaction) and must pass the first and report every other one."""
import os
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen_chain
import gen_tables


def _query_cases(tmp):
    data = os.path.join(tmp, "data")
    gen_tables.generate(data, 0.001, 7)
    con = duckdb.connect()
    want = os.path.join(tmp, "answer.parquet")
    check.make_answer(con, data, """SELECT l_returnflag, l_linestatus, count(*) AS n,
        round(CAST(sum(l_extendedprice) AS DOUBLE), 4) AS s FROM lineitem GROUP BY ALL""", want)
    rows = pq.read_table(want).to_pylist()
    cases = {
        "correct": rows[::-1],
        "dropped row": rows[1:],
        "changed value": [dict(rows[0], s=rows[0]["s"] + 0.0001)] + rows[1:],
    }
    out = {}
    for name, rs in cases.items():
        d = os.path.join(tmp, "got-" + name.replace(" ", "_"))
        os.makedirs(d)
        pq.write_table(pa.Table.from_pylist(rs, schema=pq.read_schema(want)), f"{d}/part-0.parquet")
        out["query: " + name] = check.compare_result(con, d, want)
    return out


def _write_bronze(root, truth, txs):
    """Writes the bronze layout the program produces, straight from rows:
    blocks from `truth`, transactions from `txs`."""
    by_block = {}
    for t in truth["txs"]:
        by_block.setdefault((t["chain_name"], t["block_number"]), []).append({"hash": t["tx_hash"]})
    blocks = [dict(b, timestamp=b["timestamp"] * 10 ** 6,
                   transactions=by_block.get((b["chain_name"], b["block_number"]), []))
              for b in truth["blocks"]]
    btype = pa.schema([
        ("chain_name", pa.string()), ("block_number", pa.int64()), ("hash", pa.string()),
        ("parent_hash", pa.string()), ("timestamp", pa.timestamp("us", tz="UTC")),
        ("miner", pa.string()), ("gas_used", pa.int64()), ("gas_limit", pa.int64()),
        ("size", pa.int64()), ("tx_count", pa.int64()),
        ("transactions", pa.list_(pa.struct([("hash", pa.string())])))])
    for d in ("bronze", "compacted"):
        pq.write_to_dataset(pa.Table.from_pylist(blocks, schema=btype),
                            os.path.join(root, d, "blocks"), partition_cols=["chain_name"])
    pq.write_to_dataset(pa.Table.from_pylist(txs),
                        os.path.join(root, "bronze", "transactions"), partition_cols=["chain_name"])
    for table in ("logs", "logs_quarantine"):
        rows = [dict(r, topics=r["topics"].split("|")) for r in truth[table]]
        pq.write_to_dataset(pa.Table.from_pylist(rows), os.path.join(root, "bronze", table),
                            partition_cols=["chain_name"])


def _bronze_cases(tmp):
    truth = gen_chain.backfill(os.path.join(tmp, "in"), 7, 2, 60)
    txs = truth["txs"]
    orphan = dict(txs[0], tx_hash="0x" + "ab" * 32)
    cases = {
        "correct": txs,
        "dropped row": txs[1:],
        "changed value": [dict(txs[0], value=txs[0]["value"] + "1")] + txs[1:],
        "duplicated transaction": txs + [txs[0]],
        "orphan transaction": txs + [orphan],
    }
    out = {}
    for name, rows in cases.items():
        root = os.path.join(tmp, "bronze-" + name.replace(" ", "_"))
        _write_bronze(root, truth, rows)
        # the expected set stays the generator's, the bronze tree is perturbed
        violations, _ = check.check_bronze(root, truth, with_logs=True)
        out["bronze: " + name] = (f"{len(violations)} violations, units "
                                  f"{sorted(check.failed_units(violations, truth))}"
                                  if violations else None)
    return out


def run(tmp):
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        results = {**_query_cases(tmp), **_bronze_cases(tmp)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ok = True
    for name, why in results.items():
        caught = why is not None
        good = caught != name.endswith("correct")
        ok &= good
        print(f"{'ok  ' if good else 'FAIL'} {name}: {why or 'passes'}")
    return ok
