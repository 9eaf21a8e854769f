"""Make the benchmark's input pool from the sf0.1 testdata fixture.

The benchmark runs where the fixture is not mounted, so the pool it draws
its seeded inputs from is committed here, made once by this script:

    python3 graftbench/fixture/extract.py <sf0.1 fixture dir> graftbench/fixture

- region, nation, customer, supplier, part, events, embeddings: whole.
- orders: the orders with an even o_orderkey (half), and lineitem: every
  line of those orders, sorted by (l_orderkey, l_linenumber). Whole orders
  keep the join fan-out; the sort only helps compression.
- documents: the fixture's documents minus every document in a near-dup
  pair (character 12-gram Jaccard >= 0.3; the fixture's pairs all lie at
  0.8 and above, no other pair reaches 0.2) and every document whose
  text occurs twice. The benchmark plants its own near-dups, so it knows
  exactly which ones a refresh must drop.

Tables are rewritten with zstd and without pandas metadata; values and
types are the fixture's.
"""
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WHOLE = ("region", "nation", "customer", "supplier", "part", "events", "embeddings")
NEAR_DUP_J = 0.3


def near_dup_or_copy_ids(path):
    """Ids of documents with a near-duplicate or an exact copy."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE d AS SELECT doc_id, text FROM read_parquet('{path}')")
    con.execute("""CREATE TABLE sh AS SELECT DISTINCT doc_id, substr(text, i::INTEGER, 12) AS s
                   FROM (SELECT doc_id, text, unnest(range(1, length(text) - 10)) AS i FROM d)""")
    con.execute("CREATE TABLE sz AS SELECT doc_id, count(*) AS n FROM sh GROUP BY 1")
    pairs = con.execute(f"""
        SELECT p.x, p.y FROM (
          SELECT a.doc_id AS x, b.doc_id AS y, count(*) AS n
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) p
        JOIN sz sx ON sx.doc_id = p.x JOIN sz sy ON sy.doc_id = p.y
        WHERE p.n / (sx.n + sy.n - p.n) >= {NEAR_DUP_J}""").fetchall()
    copies = con.execute("""SELECT doc_id FROM d WHERE text IN
                            (SELECT text FROM d GROUP BY 1 HAVING count(*) > 1)""").fetchall()
    return {i for p in pairs for i in p} | {r[0] for r in copies}


def write(tbl, out, name):
    pq.write_table(tbl.replace_schema_metadata(None), os.path.join(out, f"{name}.parquet"),
                   compression="zstd", compression_level=19)


def main(src, out):
    os.makedirs(out, exist_ok=True)
    for name in WHOLE:
        write(pq.read_table(os.path.join(src, f"{name}.parquet")), out, name)
    orders = pq.read_table(os.path.join(src, "orders.parquet"))
    orders = orders.filter(pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0))
    li = pq.read_table(os.path.join(src, "lineitem.parquet"))
    li = li.filter(pc.is_in(li["l_orderkey"], orders["o_orderkey"]))
    write(orders, out, "orders")
    write(li.sort_by([("l_orderkey", "ascending"), ("l_linenumber", "ascending")]),
          out, "lineitem")
    path = os.path.join(src, "documents.parquet")
    docs = pq.read_table(path)
    bad = near_dup_or_copy_ids(path)
    keep = pc.invert(pc.is_in(docs["doc_id"], pa.array(sorted(bad), pa.int64())))
    write(docs.filter(keep), out, "documents")


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
