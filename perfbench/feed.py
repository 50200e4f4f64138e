"""Seeded inputs of the `view-maintenance` workload.

Writes, under one directory:

- `base_0..2.parquet`: the three sides of the join-view chain, taken from
  the sf0.1 tables (customer -> orders -> lineitem), each with a row id;
- `jv.parquet`: a CDC feed of inserts and deletes on every side;
- `dd.parquet`: a crawl-shaped feed of overlapping, partly duplicated
  documents;
- `schedule.parquet`: the order in which batches are handed to the two
  running queries, and which of them warm the session up.

Every feed round has the same shape: the same batch sizes, in an order
drawn from the seed, so every seed asks the same amount of work. Only the
rows differ.
"""
import random
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# One round: change counts of the join-view batches and document counts of
# the dedup batches. Uneven on purpose: a gain on large batches that slows
# small ones shows in batch_p50_s.
JV_SIZES = [16, 4096]
DD_SIZES = [512]
# The batches that warm the session up before the timed feed.
WARM = [("jv", 16), ("dd", 64)]
# The join-view base is the customers whose key is a multiple of this, with
# their orders and those orders' lines: per-batch work is dominated by the
# maintainer's job count, and a smaller base keeps a run short.
BASE_SLICE = 8
# Share of join-view changes per side (customer, orders, lineitem).
SIDE_WEIGHTS = [0.1, 0.3, 0.6]
INSERT_SHARE = 0.6
# Dedup batches: share of documents re-crawled from earlier batches, and
# share repeated within the same batch.
RECRAWL_SHARE = 0.3
REPEAT_SHARE = 0.1
NATIONS = 25

BASE_SQL = [
    "SELECT c_custkey::BIGINT AS row_id, c_custkey::BIGINT AS ka, c_nationkey::BIGINT AS grp "
    "FROM read_parquet('{d}/customer.parquet') WHERE c_custkey % {k} = 0",
    "SELECT o_orderkey::BIGINT AS row_id, o_custkey::BIGINT AS ka, o_orderkey::BIGINT AS kb "
    "FROM read_parquet('{d}/orders.parquet') WHERE o_custkey % {k} = 0",
    "SELECT file_row_number::BIGINT AS row_id, l_orderkey::BIGINT AS kb, "
    "l_quantity::BIGINT AS value "
    "FROM read_parquet('{d}/lineitem.parquet', file_row_number = true) "
    "WHERE l_orderkey IN (SELECT o_orderkey FROM read_parquet('{d}/orders.parquet') "
    "WHERE o_custkey % {k} = 0)",
]


class Live:
    """Row ids live on one side, with O(1) random pick and removal."""

    def __init__(self, ids):
        self.ids = list(ids)
        self.pos = {r: i for i, r in enumerate(self.ids)}

    def pick(self, rng):
        return self.ids[rng.randrange(len(self.ids))]

    def add(self, r):
        self.pos[r] = len(self.ids)
        self.ids.append(r)

    def remove(self, r):
        i = self.pos.pop(r)
        last = self.ids.pop()
        if last != r:
            self.ids[i] = last
            self.pos[last] = i


def make(data_dir: Path, out: Path, seed: int, rounds: int):
    out.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    bases = []
    for i, sql in enumerate(BASE_SQL):
        rel = con.sql(sql.format(d=data_dir, k=BASE_SLICE))
        rel.write_parquet(str(out / f"base_{i}.parquet"))
        bases.append(rel.fetchall())
    docs = con.sql(
        f"SELECT doc_id, text FROM read_parquet('{data_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()

    rng = random.Random(seed)
    live = [Live(r[0] for r in b) for b in bases]
    cust = Live(r[1] for r in bases[0])
    orders = Live(r[2] for r in bases[1])
    next_id = [max(r[0] for r in b) + 1 for b in bases]

    jv = {k: [] for k in ("seq", "side", "row_id", "ka", "kb", "grp", "value", "op")}
    dd = {"seq": [], "doc_id": [], "text": []}
    schedule = {"seq": [], "kind": [], "warm": []}
    crawled = []

    def jv_batch(seq, size):
        touched = set()
        for _ in range(size):
            side = rng.choices(range(3), SIDE_WEIGHTS)[0]
            if rng.random() < INSERT_SHARE:
                rid = next_id[side]
                next_id[side] += 1
                if side == 0:
                    ka, kb, grp, value = rid, 0, rng.randrange(NATIONS), 0
                    cust.add(rid)
                elif side == 1:
                    ka, kb, grp, value = cust.pick(rng), rid, 0, 0
                    orders.add(rid)
                else:
                    ka, kb, grp, value = 0, orders.pick(rng), 0, rng.randint(1, 50)
                live[side].add(rid)
                op = "insert"
            else:
                rid = live[side].pick(rng)
                while rid in touched:
                    rid = live[side].pick(rng)
                live[side].remove(rid)
                if side == 0:
                    cust.remove(rid)
                elif side == 1:
                    orders.remove(rid)
                ka = kb = grp = value = 0
                op = "delete"
            touched.add(rid)
            for k, v in zip(jv, (seq, str(side), rid, ka, kb, grp, value, op)):
                jv[k].append(v)

    def dd_batch(seq, size):
        batch = []
        for _ in range(size):
            r = rng.random()
            if batch and r < REPEAT_SHARE:
                doc = rng.choice(batch)
            elif crawled and r < REPEAT_SHARE + RECRAWL_SHARE:
                doc = rng.choice(crawled)
            else:
                doc = docs[rng.randrange(len(docs))]
            batch.append(doc)
        crawled.extend(batch)
        for doc_id, text in batch:
            dd["seq"].append(seq)
            dd["doc_id"].append(doc_id)
            dd["text"].append(text)

    plan = [(b, True) for b in WARM]
    for _ in range(rounds):
        batches = [("jv", s) for s in JV_SIZES] + [("dd", s) for s in DD_SIZES]
        rng.shuffle(batches)
        plan += [(b, False) for b in batches]
    for seq, ((kind, size), warm) in enumerate(plan):
        (jv_batch if kind == "jv" else dd_batch)(seq, size)
        schedule["seq"].append(seq)
        schedule["kind"].append(kind)
        schedule["warm"].append(warm)

    i32 = pa.int32()
    pq.write_table(pa.table({
        "seq": pa.array(jv["seq"], i32), "side": jv["side"], "row_id": jv["row_id"],
        "ka": jv["ka"], "kb": jv["kb"], "grp": jv["grp"], "value": jv["value"], "op": jv["op"],
    }), out / "jv.parquet")
    pq.write_table(pa.table({
        "seq": pa.array(dd["seq"], i32), "doc_id": dd["doc_id"], "text": dd["text"],
    }), out / "dd.parquet")
    pq.write_table(pa.table({
        "seq": pa.array(schedule["seq"], i32), "kind": schedule["kind"], "warm": schedule["warm"],
    }), out / "schedule.parquet")
