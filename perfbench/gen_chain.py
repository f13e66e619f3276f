"""Seeded EVM block, transaction and log messages with their ground truth.

Messages have the wire shape `BlockIngest` parses (FIXTURES.md, section
B.1): 66-character hashes, 42-character addresses, decimal-string
numerics, a skewed number of transactions per block (empty blocks
included) and calldata of varied length, over three chains.  Each batch or
file mixes in the faults ingest has to survive: corrupt lines, non-numeric
block numbers, duplicated messages, reorgs (a second block at a height that
re-includes part of its transactions), null value/nonce/input/to fields,
duplicated logs and logs whose transaction never lands.

The ground truth is computed here from the generator's own records and the
documented bronze rules, not by any code of the program: the canonical
block per (chain, height) is the newest timestamp, ties broken by the
larger hash; only canonical blocks' transactions land, with value -> "0",
input -> "0x", nonce -> 0 when null; a log lands when its (chain, block,
transaction) landed and is quarantined otherwise.
"""
import json
import math
import os
import random
import statistics

CHAINS = ["ethereum", "polygon", "arbitrum"]

# injection rates, per block or log message
CORRUPT = 0.01
NON_NUMERIC = 0.01
DUPLICATE = 0.03
REORG = 0.02
NULL_FIELD = 0.05
LOG_DUPLICATE = 0.02
LOG_NO_PARENT = 0.01
LOG_CORRUPT = 0.01

# Transactions per non-empty block: median 100, so that the mean over all
# blocks is about 145, the order of Ethereum mainnet's daily average in
# 2023-24 (about 1.1 million transactions over about 7,200 blocks a day).
# The cap is what a 30M-gas block holds of 21,000-gas transfers.
TX_MEDIAN = 100
TX_MAX = 30_000_000 // 21_000

TS0 = 1_700_000_000
# stream files per pass, and the positions in a pass of the files whose
# content is fixed, so that the cross-file faults they carry do not depend
# on the seed
PASS_FILES = 6
FIXED_SOURCE = (1, 2)
REDELIVERY, REORG_FILE = 3, 5


def _hex(r, nbytes):
    return "0x" + "%0*x" % (2 * nbytes, r.getrandbits(8 * nbytes)) if nbytes else "0x"


def _h256(r):
    return "0x%064x" % r.getrandbits(256)


def _addr(r):
    return "0x%040x" % r.getrandbits(160)


def _tx_counts(r, n):
    """Transactions per block for `n` blocks: a tenth empty, the rest the
    quantiles of a log-normal with median TX_MEDIAN and a long tail capped
    at TX_MAX, in seeded order.  Every seed gets the same multiset, so a
    unit's volume does not vary."""
    dist = statistics.NormalDist(math.log(TX_MEDIAN), 1.0)
    counts = [0 if q <= 0.1 else min(TX_MAX, int(math.exp(dist.inv_cdf((q - 0.1) / 0.9))))
              for q in ((i + 0.5) / n for i in range(n))]
    r.shuffle(counts)
    return counts


def _calldata(r):
    u = r.random()
    if u < 0.3:
        return "0x"
    if u < 0.9:
        return "0x%08x" % r.getrandbits(32) + "".join(
            "%064x" % r.getrandbits(256) for _ in range(r.randint(0, 4)))
    return _hex(r, r.randint(100, 1200))


def _line(msg):
    return json.dumps(msg, separators=(",", ":"))


class Chain:
    """Messages of one input set, split into units (batches or files), and
    the records the ground truth is computed from."""

    def __init__(self):
        self.units = []       # [(block lines, log lines)]
        self.deliveries = {}  # (chain, height) -> valid block messages
        self.where = {}       # (chain, height) -> last unit delivering it
        self.logs = []        # valid log messages, duplicates included
        self.skipped = 0      # block lines the parser must drop

    def new_unit(self):
        self.units.append(([], []))

    @property
    def blocks_out(self):
        return self.units[-1][0]

    @property
    def logs_out(self):
        return self.units[-1][1]

    # ------------------------------------------------------------ blocks

    def tx(self, r, chain, height):
        def maybe(v):
            return None if r.random() < NULL_FIELD else v
        return {
            "hash": _h256(r), "chain_name": chain,
            "nonce": maybe(str(r.randint(0, 5000))), "block_hash": None,
            "block_number": str(height), "transaction_index": None,
            "from": _addr(r), "to": maybe(_addr(r)),
            "value": maybe(str(r.getrandbits(r.choice([1, 40, 64, 90])))),
            "gas_price": str(r.randint(10 ** 8, 10 ** 11)),
            "gas": str(r.randint(21000, 2000000)), "input": maybe(_calldata(r))}

    def block(self, r, chain, height, ts, txs):
        h = _h256(r)
        txs = [dict(t, block_hash=h, transaction_index=str(i)) for i, t in enumerate(txs)]
        return {
            "number": str(height), "chain_name": chain, "hash": h,
            "parent_hash": _h256(r),
            "nonce": None if r.random() < NULL_FIELD else "0x%016x" % r.getrandbits(64),
            "sha3_uncles": _h256(r), "logs_bloom": _hex(r, 256),
            "transactions_root": _h256(r), "state_root": _h256(r),
            "receipts_root": _h256(r), "miner": _addr(r),
            "difficulty": str(r.getrandbits(40)),
            "total_difficulty": str(r.getrandbits(70)),
            "extra_data": _hex(r, r.randint(0, 32)),
            "size": None if r.random() < NULL_FIELD else str(r.randint(500, 150000)),
            "gas_limit": "30000000", "gas_used": str(r.randint(0, 30000000)),
            "timestamp": ts, "transactions": txs, "uncles": []}

    def deliver(self, msg):
        key = (msg["chain_name"], int(msg["number"]))
        self.deliveries.setdefault(key, []).append(msg)
        self.where[key] = len(self.units) - 1
        self.blocks_out.append(_line(msg))

    def deliver_non_numeric(self, msg):
        self.blocks_out.append(_line(dict(msg, number=hex(int(msg["number"])))))
        self.skipped += 1

    def corrupt_block(self, r):
        line = self.blocks_out[r.randrange(len(self.blocks_out))]
        self.blocks_out.append(line[: len(line) // 2])
        self.skipped += 1

    # -------------------------------------------------------------- logs

    def logs_for(self, r, msg, txs):
        idx = 0
        for t in txs:
            for _ in range(r.choice([0, 0, 1, 1, 2, 3, 4, 5])):
                self.log(r, {
                    "log_index": str(idx), "chain_name": msg["chain_name"],
                    "address": _addr(r),
                    "topics": [_h256(r) for _ in range(r.randint(1, 4))],
                    "data": _hex(r, 32 * r.randint(0, 4)),
                    "decoded_event": r.choice([None, "Transfer", "Approval", "Swap"]),
                    "transaction_hash": t["hash"], "block_number": msg["number"]})
                idx += 1

    def log(self, r, lg):
        self.logs.append(lg)
        self.logs_out.append(_line(lg))
        if r.random() < LOG_DUPLICATE:
            self.logs_out.append(self.logs_out[-1])
        if r.random() < LOG_CORRUPT:
            self.logs_out.append(self.logs_out[-1][:20])

    # ------------------------------------------------------------ filling

    def fill(self, r, heights, with_logs):
        """Delivers one block per (chain, height) with the seeded
        injections; duplicates and reorgs arrive later in the same unit."""
        later = []
        for (chain, h), n_tx in zip(heights, _tx_counts(r, len(heights))):
            ts = TS0 + 12 * h
            m = self.block(r, chain, h, ts, [self.tx(r, chain, h) for _ in range(n_tx)])
            if r.random() < NON_NUMERIC:
                self.deliver_non_numeric(m)
                continue
            self.deliver(m)
            if with_logs:
                self.logs_for(r, m, m["transactions"])
            if r.random() < DUPLICATE:
                later.append(m)
            if r.random() < REORG:
                # re-includes half the transactions; a fifth tie on timestamp
                own = [self.tx(r, chain, h) for _ in range(r.randint(0, 8))]
                kept = m["transactions"][: len(m["transactions"]) // 2]
                alt = self.block(r, chain, h, ts + (0 if r.random() < 0.2 else r.randint(1, 3)),
                                 kept + own)
                later.append(alt)
                if with_logs:
                    self.logs_for(r, alt, own)
            if r.random() < CORRUPT:
                self.corrupt_block(r)
        for m in later:
            self.deliver(m)
        if with_logs:
            chain, h = heights[0]
            for _ in range(max(1, int(len(self.logs_out) * LOG_NO_PARENT))):
                self.log(r, {"log_index": "0", "chain_name": chain, "address": _addr(r),
                             "topics": [_h256(r)], "data": "0x", "decoded_event": None,
                             "transaction_hash": _h256(r), "block_number": str(h)})

    # ------------------------------------------------------------- truth

    def truth(self):
        canon = {k: max(v, key=lambda m: (m["timestamp"], m["hash"]))
                 for k, v in self.deliveries.items()}
        blocks, txs = [], {}
        for (chain, h), m in canon.items():
            blocks.append({
                "chain_name": chain, "block_number": h, "hash": m["hash"],
                "parent_hash": m["parent_hash"], "timestamp": m["timestamp"],
                "miner": m["miner"], "gas_used": int(m["gas_used"]),
                "gas_limit": int(m["gas_limit"]),
                "size": None if m["size"] is None else int(m["size"]),
                "tx_count": len(m["transactions"])})
            for t in m["transactions"]:
                txs[(chain, h, t["hash"])] = {
                    "chain_name": chain, "block_number": h, "tx_hash": t["hash"],
                    "from_address": t["from"], "to_address": t["to"],
                    "value": "0" if t["value"] is None else t["value"],
                    "gas_price": t["gas_price"], "gas": t["gas"],
                    "input": "0x" if t["input"] is None else t["input"],
                    "nonce": 0 if t["nonce"] is None else int(t["nonce"])}
        landed, quarantined, seen = [], [], set()
        for lg in self.logs:
            key = (lg["chain_name"], int(lg["block_number"]), lg["transaction_hash"],
                   int(lg["log_index"]))
            if key in seen:
                continue
            seen.add(key)
            row = {"chain_name": key[0], "block_number": key[1],
                   "transaction_hash": key[2], "log_index": key[3],
                   "address": lg["address"], "topics": "|".join(lg["topics"]),
                   "data": lg["data"], "decoded_event": lg["decoded_event"]}
            (landed if key[:3] in txs else quarantined).append(row)
        return {"blocks": blocks, "txs": list(txs.values()), "logs": landed,
                "logs_quarantine": quarantined, "skipped_msgs": self.skipped,
                "where": [[c, h, u] for (c, h), u in self.where.items()]}


def _write(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _heights(r, base, n):
    hs = [(c, base + i) for c in CHAINS for i in range(n // len(CHAINS))]
    r.shuffle(hs)
    return hs


def backfill(out_dir, seed, batches, blocks_per_batch):
    """Batches over disjoint block ranges; writes `batches.txt` and
    `<batch>/{blocks,logs}.jsonl`, returns the ground truth."""
    r = random.Random(seed)
    c = Chain()
    names = []
    base = 15_000_000 + (seed % 1000) * 10_000
    per_chain = blocks_per_batch // len(CHAINS)
    for k in range(batches):
        c.new_unit()
        c.fill(r, _heights(r, base + k * per_chain, blocks_per_batch), with_logs=True)
        name = f"b{k}"
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        _write(os.path.join(out_dir, name, "blocks.jsonl"), c.units[k][0])
        _write(os.path.join(out_dir, name, "logs.jsonl"), c.units[k][1])
        names.append(name)
    _write(os.path.join(out_dir, "batches.txt"), names)
    t = c.truth()
    t["units"] = names
    return t


def stream(out_dir, seed, blocks_per_file, n_files):
    """The first `n_files` files of a live tail, in passes of PASS_FILES.
    Writes `files.txt` and the files when `out_dir` is given; returns the
    ground truth of those files.  In every pass the files at FIXED_SOURCE,
    REDELIVERY and REORG_FILE have content that depends on the pass number
    only, not on the seed: REDELIVERY resends a block of the pass's first
    fixed file, REORG_FILE replaces a height of its second."""
    r = random.Random(seed)
    c = Chain()
    names, faulty = [], []
    base = 10_000_000 + (seed % 1000) * 100_000
    fixed_base = 30_000_000
    for i in range(n_files):
        k, pos = divmod(i, PASS_FILES)
        if pos == 0:
            fixed, sources = random.Random(20240601 + k), {}
        c.new_unit()
        heights = blocks_per_file * i
        if pos in FIXED_SOURCE or pos in (REDELIVERY, REORG_FILE):
            c.fill(fixed, _heights(fixed, fixed_base + heights, blocks_per_file), with_logs=False)
        else:
            c.fill(r, _heights(r, base + heights, blocks_per_file), with_logs=False)
        if pos in FIXED_SOURCE:
            # a known block with transactions, delivered after the fill
            chain, h = CHAINS[0], fixed_base + 5_000_000 + i
            src = c.block(fixed, chain, h, TS0 + 12 * h, [c.tx(fixed, chain, h) for _ in range(6)])
            c.deliver(src)
            sources[pos] = src
        if pos == REDELIVERY:
            c.deliver(sources[FIXED_SOURCE[0]])
        if pos == REORG_FILE:
            old = sources[FIXED_SOURCE[1]]
            chain, h = old["chain_name"], int(old["number"])
            c.deliver(c.block(fixed, chain, h, old["timestamp"] + 2,
                              old["transactions"][:3] + [c.tx(fixed, chain, h) for _ in range(2)]))
        names.append(f"f{i:04d}.json")
        if pos in (REDELIVERY, REORG_FILE):
            faulty.append(names[-1])
        if out_dir:
            os.makedirs(out_dir, exist_ok=True)
            _write(os.path.join(out_dir, names[-1]), c.units[i][0])
    if out_dir:
        _write(os.path.join(out_dir, "files.txt"), names)
    t = c.truth()
    t["units"] = names
    t["faulty"] = faulty
    return t
