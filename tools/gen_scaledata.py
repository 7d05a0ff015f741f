"""Session-local 10× scale-up of /root/testdata/sf0.1 for PERFORMANCE
EVIDENCE ONLY (guide §1: measure at a scale where per-round overhead
stops dominating). Never used by the driver and never a correctness
oracle: the driver generates its own large SFs with planted structures
this script does not know, so numbers from this data are only valid as
SAME-SESSION before/after A/B comparisons, never across rounds.

Construction: deterministic ×K tiling with key offsets (FK-consistent)
and a seeded ~10% word-level perturbation of each non-first documents
copy (pure duplicates would inflate shingle document-frequencies ×K and
distort the pair-generation profile the dedup family is measured on).
Copy 0 is byte-identical to sf0.1, so planted link/host structures stay
present.

Usage: python tools/gen_scaledata.py [out_dir] [K]   (K defaults to 10;
the default out_dir is named sf1.0). Per-query timings on this data go
through tools/qtime.py; speed claims are perfbench results
(perfbench/run.py), the one benchmark.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

SRC = "/root/testdata/sf0.1"


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else "/root/sfbig/sf1.0"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()

    def tile(table: str, sql: str) -> None:
        con.sql(
            f"copy ({sql}) to '{out}/{table}.parquet' (format parquet)"
        )
        print(table, con.sql(f"select count(*) from '{out}/{table}.parquet'").fetchone()[0], flush=True)

    rng = np.random.default_rng(42)
    docs = con.sql(f"select * from '{SRC}/documents.parquet' order by doc_id").df()
    vocab = np.array(sorted({w for t in docs["text"] for w in t.split(" ") if w}))
    copies = [docs]
    n = len(docs)
    for c in range(1, k):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + c * n
        texts = []
        for i, t in enumerate(d["text"]):
            words = t.split(" ")
            w = np.array(words, dtype=object)
            mask = rng.random(len(w)) < 0.10
            if mask.any():
                w[mask] = vocab[rng.integers(0, len(vocab), int(mask.sum()))]
            texts.append(" ".join(w.tolist()))
        d["text"] = texts
        d["n_chars"] = d["text"].str.len().astype("int64")
        copies.append(d)
    pd.concat(copies, ignore_index=True).to_parquet(f"{out}/documents.parquet", index=False)
    print("documents", n * k, flush=True)

    emb = con.sql(f"select * from '{SRC}/embeddings.parquet' order by vec_id").df()
    ecopies = [emb]
    en = len(emb)
    for c in range(1, k):
        d = emb.copy()
        d["vec_id"] = d["vec_id"] + c * en
        noise = rng.normal(0, 0.05, size=(en, len(emb["embedding"].iloc[0]))).astype("float32")
        d["embedding"] = [
            (np.asarray(v, dtype="float32") + noise[i]).tolist()
            for i, v in enumerate(d["embedding"])
        ]
        ecopies.append(d)
    pd.concat(ecopies, ignore_index=True).to_parquet(f"{out}/embeddings.parquet", index=False)
    print("embeddings", en * k, flush=True)

    parts = " union all ".join(
        f"""select event_id + {c}*100000 event_id, ts, user_id + {c}*10000 user_id,
            event_type, value, props from '{SRC}/events.parquet'"""
        for c in range(k)
    )
    tile("events", parts)
    parts = " union all ".join(
        f"""select l_orderkey + {c}*150000 l_orderkey, l_partkey + {c}*20000 l_partkey,
            l_suppkey + {c}*1000 l_suppkey, l_linenumber, l_quantity, l_extendedprice,
            l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
            from '{SRC}/lineitem.parquet'"""
        for c in range(k)
    )
    tile("lineitem", parts)
    parts = " union all ".join(
        f"""select o_orderkey + {c}*150000 o_orderkey, o_custkey + {c}*15000 o_custkey,
            o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            from '{SRC}/orders.parquet'"""
        for c in range(k)
    )
    tile("orders", parts)
    parts = " union all ".join(
        f"""select c_custkey + {c}*15000 c_custkey, c_name, c_nationkey, c_acctbal,
            c_mktsegment from '{SRC}/customer.parquet'"""
        for c in range(k)
    )
    tile("customer", parts)
    parts = " union all ".join(
        f"""select p_partkey + {c}*20000 p_partkey, p_name, p_brand, p_type, p_size,
            p_retailprice from '{SRC}/part.parquet'"""
        for c in range(k)
    )
    tile("part", parts)
    parts = " union all ".join(
        f"""select s_suppkey + {c}*1000 s_suppkey, s_name, s_nationkey, s_acctbal
            from '{SRC}/supplier.parquet'"""
        for c in range(k)
    )
    tile("supplier", parts)
    for t in ("nation", "region"):
        tile(t, f"select * from '{SRC}/{t}.parquet'")


if __name__ == "__main__":
    main()
