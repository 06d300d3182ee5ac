"""Seeded input generator for the benchmark.

The base tables in ``perfbench/data`` are the repo's sf0.01 test tables.
``generate`` derives a workload's input from them by a seeded,
key-consistent resample:

* the seed picks which fact rows are kept (``KEEP_PER_MILLE``): orders
  (and their lineitems, which follow their order), events, documents and
  embeddings are sampled by an MD5 of ``seed:keep:key``, so foreign keys
  stay consistent and joins keep their selectivity; dimension tables are
  copied whole;
* a seeded ``NEAR_DUP_PER_MILLE`` share of the kept documents gets a
  near-duplicate sibling: the same text minus its first word, plus one
  appended vocabulary word, under a new ``doc_id`` above the base range.

The same seed gives byte-identical files; a different seed gives a
different sample. Run ``python3 perfbench/gen.py <out_dir> <seed>`` to
generate one input directory by hand.
"""
import hashlib
import os
import sys

import duckdb

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEEP_PER_MILLE = 900
NEAR_DUP_PER_MILLE = 150
SIBLING_WORDS = ["data", "table", "query", "spark", "vector"]


def _pick(seed, salt, key):
    """SQL for a per-mille draw in [0, 1000) keyed by seed, salt and key."""
    return f"((md5_number(concat('{seed}:{salt}:', {key})) % 1000)::INTEGER)"


def generate(out_dir, seed):
    """Write the ten input tables for ``seed``; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    b = BASE
    keep = KEEP_PER_MILLE

    def sampled(table, key):
        return (f"SELECT * FROM '{b}/{table}.parquet' "
                f"WHERE {_pick(seed, 'keep', key)} < {keep}")
    queries = {t: f"SELECT * FROM '{b}/{t}.parquet'"
               for t in ("region", "nation", "customer", "supplier", "part")}
    queries.update({
        "orders": sampled("orders", "o_orderkey"),
        "lineitem": sampled("lineitem", "l_orderkey"),
        "events": sampled("events", "event_id"),
        "embeddings": sampled("embeddings", "vec_id"),
    })
    stride = con.execute(
        f"SELECT max(doc_id) + 1 FROM '{b}/documents.parquet'").fetchone()[0]
    words = "[" + ", ".join(f"'{w}'" for w in SIBLING_WORDS) + "]"
    dup_pick = _pick(seed, "dup", "doc_id")
    queries["documents"] = f"""
        WITH kept AS ({sampled("documents", "doc_id")})
        SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars
        FROM (
          SELECT doc_id, text, lang, source FROM kept
          UNION ALL
          SELECT doc_id + {stride} AS doc_id,
                 substr(text, strpos(text, ' ') + 1) || ' ' ||
                   {words}[1 + ({dup_pick} % {len(SIBLING_WORDS)})] AS text,
                 lang, source
          FROM kept
          WHERE {dup_pick} < {NEAR_DUP_PER_MILLE} AND strpos(text, ' ') > 0)
        """
    order = {"region": "r_regionkey", "nation": "n_nationkey",
             "customer": "c_custkey", "supplier": "s_suppkey",
             "part": "p_partkey", "orders": "o_orderkey",
             "lineitem": "l_orderkey, l_linenumber", "events": "event_id",
             "documents": "doc_id", "embeddings": "vec_id"}
    for t in TABLES:
        path = os.path.join(out_dir, f"{t}.parquet")
        con.execute(f"COPY (SELECT * FROM ({queries[t]}) ORDER BY {order[t]}) "
                    f"TO '{path}' (FORMAT parquet)")
    rows = {t: con.execute(
        f"SELECT count(*) FROM '{os.path.join(out_dir, t)}.parquet'"
    ).fetchone()[0] for t in TABLES}
    con.close()
    return rows


def digest(in_dir):
    """SHA-256 over the generated files' bytes, in table order."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(in_dir, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2])))
