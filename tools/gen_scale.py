"""Generate scaled testdata by duplicate-and-reid from an existing
scale factor (default sf0.1), for scaling-curve measurements.

Usage: python tools/gen_scale.py OUT_DIR K [SRC_DIR]

``ensure(OUT_DIR, K, SRC_DIR)`` builds the fixture only when it is
missing (the plan-contract test and tools/check_plans.py call it).

Each of the K copies is a CONTENT-DISJOINT re-keyed clone, so data
semantics scale the way a real bigger corpus does — more duplicate
groups / clusters / customers, not bigger ones (naive replication
would make every dedup group K× larger and every pair query
quadratically heavier, measuring the dataset, not the plan):

- ids shift by copy × 10_000_000 (documents, embeddings, events,
  orders+lineitem, customer, part, supplier — FKs shifted in lockstep
  so referential joins keep their selectivity);
- document text gets a per-copy suffix on EVERY token
  (``_c<k>``), so copies share no tokens/shingles/fingerprints:
  within-copy near-dup structure replicates exactly, cross-copy
  similarity is zero;
- embeddings are sign-flipped per copy with a deterministic ±1
  pattern per dimension: an orthogonal transform, so within-copy
  cosine structure (and planted near-dup pairs) is preserved
  bit-for-bit while cross-copy similarities decorrelate;
- nation/region stay as-is (dimensions).

Copy 0 is byte-identical to the source, so K=1 reproduces the input.
"""

from __future__ import annotations

import os
import sys

import duckdb

OFF = 10_000_000

TABLES = {
    # table: (id-shift expressions applied per copy k; '*' = keep)
    "nation": None,  # dims: single copy
    "region": None,
}


def _copy_sql(table: str, src: str, k: int) -> str:
    off = k * OFF
    t = f"read_parquet('{src}/{table}.parquet')"
    if table == "documents":
        if k == 0:
            return f"SELECT * FROM {t}"
        return f"""
        SELECT doc_id + {off} AS doc_id,
               regexp_replace(text, '(\\S+)', '\\1_c{k}', 'g') AS text,
               lang, source,
               CAST(length(regexp_replace(text, '(\\S+)', '\\1_c{k}', 'g'))
                    AS BIGINT) AS n_chars
        FROM {t}"""
    if table == "embeddings":
        if k == 0:
            return f"SELECT * FROM {t}"
        return f"""
        SELECT vec_id + {off} AS vec_id,
               CAST(list_transform(range(1, len(embedding) + 1),
                    i -> embedding[i] * (CASE WHEN (hash(i + {k} * 97) & 1) = 0
                                         THEN 1.0 ELSE -1.0 END))
                    AS FLOAT[]) AS embedding,
               label
        FROM {t}"""
    if table == "events":
        return f"""
        SELECT event_id + {off} AS event_id, ts, user_id + {off} AS user_id,
               event_type, value, props
        FROM {t}"""
    if table == "orders":
        return f"""
        SELECT o_orderkey + {off} AS o_orderkey, o_custkey + {off} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM {t}"""
    if table == "lineitem":
        return f"""
        SELECT l_orderkey + {off} AS l_orderkey, l_partkey + {off} AS l_partkey,
               l_suppkey + {off} AS l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
               l_shipdate
        FROM {t}"""
    if table == "customer":
        return f"""
        SELECT c_custkey + {off} AS c_custkey, c_name, c_nationkey, c_acctbal,
               c_mktsegment
        FROM {t}"""
    if table == "part":
        return f"""
        SELECT p_partkey + {off} AS p_partkey, p_name, p_brand, p_type, p_size,
               p_retailprice
        FROM {t}"""
    if table == "supplier":
        return f"""
        SELECT s_suppkey + {off} AS s_suppkey, s_name, s_nationkey, s_acctbal
        FROM {t}"""
    raise KeyError(table)


def generate(out_dir: str, k_copies: int, src_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for table in ("nation", "region"):
        con.sql(
            f"COPY (SELECT * FROM read_parquet('{src_dir}/{table}.parquet')) "
            f"TO '{out_dir}/{table}.parquet' (FORMAT parquet)"
        )
    for table in (
        "documents", "embeddings", "events", "orders", "lineitem",
        "customer", "part", "supplier",
    ):
        union = " UNION ALL ".join(
            f"({_copy_sql(table, src_dir, k)})" for k in range(k_copies)
        )
        con.sql(
            f"COPY ({union}) TO '{out_dir}/{table}.parquet' (FORMAT parquet)"
        )
        n = con.sql(
            f"SELECT count(*) FROM read_parquet('{out_dir}/{table}.parquet')"
        ).fetchone()[0]
        print(f"{table}: {n} rows ({k_copies} copies)")


def ensure(out_dir: str, k_copies: int, src_dir: str) -> str:
    """Build ``out_dir`` unless it already exists. The copy is
    generated next to it and renamed into place, so an interrupted
    build never leaves a partial fixture behind."""
    if not os.path.isdir(out_dir):
        tmp = f"{out_dir}.tmp-{os.getpid()}"
        generate(tmp, k_copies, src_dir)
        os.replace(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    out = sys.argv[1]
    k = int(sys.argv[2])
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    generate(out, k, src)
