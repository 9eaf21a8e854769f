"""Seeded inputs for the graft benchmark.

`fixture/` holds a pool extracted from the sf0.1 testdata fixture
(`fixture/extract.py` says how). A workload's inputs are seeded row draws
from that pool, written as single parquet files with the fixture's schemas
and values, so the same seed always gives the same inputs. Only what the
fixture lacks is made here: the store_refresh batch's planted near-dups
(one word of a long document swapped for `dup`) and the seeded ids the
jobs forget and probe.

Usage: python3 gen.py <workload> <seed> <outdir>
Prints one JSON line: per-table rows and bytes.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
DIMS = ("region", "nation", "customer", "supplier", "part")
# draws per run: half the pool's orders (a quarter of sf0.1's, with all
# their lines) and 80% of the events; warehouse and batch documents and
# vectors
SIZES = {
    "etl_daily": {"orders": 37_500, "events": 80_000},
    "store_refresh": {"documents": 1_000, "batch": 100, "cross": 10, "inner": 5, "gone": 8},
}
MIN_PLANT_WORDS = 40  # one swapped word keeps 12-gram Jaccard >= 0.8


def pool(name):
    return pq.read_table(os.path.join(POOL, f"{name}.parquet"))


def draw(rng, tbl, n):
    """n rows of `tbl` without replacement, in pool order."""
    return tbl.take(np.sort(rng.choice(tbl.num_rows, n, replace=False)))


def long_enough(texts):
    """Positions of the texts long enough to plant a near-dup of."""
    return [i for i, t in enumerate(texts) if len(t.split(" ")) >= MIN_PLANT_WORDS]


def near_dup(rng, text):
    w = text.split(" ")
    w[int(rng.integers(0, len(w)))] = "dup"
    return " ".join(w)


def etl_daily(rng, size):
    t = {name: pool(name) for name in DIMS}
    t["orders"] = draw(rng, pool("orders"), size["orders"])
    li = pool("lineitem")
    t["lineitem"] = li.filter(pc.is_in(li["l_orderkey"], t["orders"]["o_orderkey"]))
    t["events"] = draw(rng, pool("events"), size["events"])
    return t, {}


def store_refresh(rng, size):
    """A warehouse of documents and vectors, and a novel batch of each.

    Of the batch documents, `cross` are rewritten as near-dups of distinct
    warehouse documents and `inner` as near-dups of distinct other batch
    documents; the refresh must drop the cross ones and the larger id of
    each inner pair, and keep everything else above its token floor.
    """
    docs = pool("documents")
    n_wh, n_b = size["documents"], size["batch"]
    pick = rng.permutation(docs.num_rows)[:n_wh + n_b]
    wh = docs.take(np.sort(pick[:n_wh]))
    batch = docs.take(np.sort(pick[n_wh:])).to_pydict()
    wh_text = wh["text"].to_pylist()
    pos = rng.permutation(n_b)
    n_planted = size["cross"] + size["inner"]
    cross_pos, copy_pos = pos[:size["cross"]], pos[size["cross"]:n_planted]
    untouched = set(pos[n_planted:])
    src_pos = rng.choice([p for p in long_enough(batch["text"]) if p in untouched],
                         size["inner"], replace=False)
    for p, w in zip(cross_pos, rng.choice(long_enough(wh_text), size["cross"], replace=False)):
        batch["text"][p] = near_dup(rng, wh_text[w])
    for p, s in zip(copy_pos, src_pos):
        batch["text"][p] = near_dup(rng, batch["text"][s])
    for p in (*cross_pos, *copy_pos):
        batch["n_chars"][p] = len(batch["text"][p])
    ids = batch["doc_id"]
    drops = [ids[p] for p in cross_pos] + [max(ids[s], ids[p]) for s, p in zip(src_pos, copy_pos)]

    emb = pool("embeddings")
    vpick = rng.permutation(emb.num_rows)[:n_wh + n_b]
    wh_emb = emb.take(np.sort(vpick[:n_wh]))
    batch_emb = emb.take(np.sort(vpick[n_wh:]))
    t = {"documents": wh, "batch": pa.table(batch, schema=docs.schema),
         "embeddings": wh_emb, "batch_emb": batch_emb}
    facts = {
        "refresh_drops": sorted(drops),
        "gone_docs": sorted(rng.choice(wh["doc_id"].to_pylist(), size["gone"], replace=False)),
        "gone_vecs": sorted(rng.choice(wh_emb["vec_id"].to_pylist(), size["gone"], replace=False)),
        "probe_vec": batch_emb["vec_id"][int(rng.integers(0, n_b))].as_py(),
    }
    return t, facts


def generate(workload, seed, out):
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    tables, facts = {"etl_daily": etl_daily, "store_refresh": store_refresh}[workload](
        rng, SIZES[workload])
    os.makedirs(out, exist_ok=True)
    info = {}
    for name, tbl in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(tbl, path)
        info[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    with open(os.path.join(out, "facts.json"), "w") as f:
        json.dump({"tables": info, **facts}, f, default=int)
    return info


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
