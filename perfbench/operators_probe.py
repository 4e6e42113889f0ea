"""Operator-module probe of a traced run: 11 of the 31 operator queries
of the repository's ``bench.py``, timed from outside over small tables
that this module writes into the run directory.

The tables have the schemas of the star-schema test corpora (``documents``,
``embeddings``, ``events`` and the TPC-H-like relations) and come from a
fixed generator seed, so every run sees the same input whatever its
``--seed``, and each query's result is compared with a value pinned in
``leaves_pinned.json``. The detail line of a traced run lists every
leaf's digest under ``leaf_digests``; after a deliberate change to the
generator or to a query's semantics, copy them into that file.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))
PINNED = os.path.join(HERE, "leaves_pinned.json")
TABLE_SEED = 20240101

WORDS = ("the a data table row column key join merge sort hash scan filter "
         "group order query batch stream window spark vector value line "
         "part customer agg big small fast slow").split()


# ---------------------------------------------------------------------------
# Tables
# ---------------------------------------------------------------------------

def _documents(rng: random.Random, n: int = 500) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.05:        # exact duplicate
            text = rng.choice(texts)
        elif texts and r < 0.12:      # near duplicate: one word changed
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            text = " ".join(words)
        elif r < 0.3:                 # prose lines, some with contact data
            lines = []
            for _ in range(rng.randint(2, 6)):
                line = " ".join(rng.choice(WORDS)
                                for _ in range(rng.randint(4, 14)))
                lines.append(line.capitalize() + ".")
            if rng.random() < 0.3:
                lines.append(f"Contact user{i}@example.com or "
                             f"555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}.")
            text = "\n".join(lines)
        else:
            text = " ".join(rng.choice(WORDS)
                            for _ in range(rng.randint(8, 90)))
        texts.append(text)
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(["en", "en", "fr", "es", "zh", "de"]) for _ in texts],
        "source": [f"src{rng.randrange(20)}" for _ in texts],
        "n_chars": [len(t) for t in texts],
    }


def _embeddings(rng: random.Random, n: int = 500, dim: int = 64,
                labels: int = 10) -> dict:
    centres = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(labels)]
    vecs, labs = [], []
    for _ in range(n):
        lab = rng.randrange(labels)
        vecs.append([c + rng.gauss(0, 0.4) for c in centres[lab]])
        labs.append(lab)
    return {"vec_id": list(range(n)), "embedding": vecs, "label": labs}


def _events(rng: random.Random, n: int = 1000) -> dict:
    t0 = dt.datetime(2024, 1, 1)
    ts = sorted(t0 + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
                for _ in range(n))
    return {
        "event_id": list(range(n)),
        "ts": ts,
        "user_id": [rng.randrange(15) for _ in ts],
        "event_type": [rng.choice(["click", "purchase", "error", "signup", "view"])
                       for _ in ts],
        "value": [round(rng.uniform(0, 500), 2) for _ in ts],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in ts],
    }


def _star(rng: random.Random) -> dict[str, dict]:
    day = dt.timedelta(days=1)
    d0 = dt.datetime(1995, 1, 1)
    region = {"r_regionkey": list(range(5)),
              "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    nation = {"n_nationkey": list(range(25)),
              "n_name": [f"NATION_{i}" for i in range(25)],
              "n_regionkey": [i % 5 for i in range(25)]}
    customer = {"c_custkey": list(range(150)),
                "c_name": [f"Customer#{i:09d}" for i in range(150)],
                "c_nationkey": [rng.randrange(25) for _ in range(150)],
                "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(150)],
                "c_mktsegment": [rng.choice(["FURNITURE", "MACHINERY", "BUILDING",
                                             "HOUSEHOLD", "AUTOMOBILE"])
                                 for _ in range(150)]}
    supplier = {"s_suppkey": list(range(10)),
                "s_name": [f"Supplier#{i:09d}" for i in range(10)],
                "s_nationkey": [rng.randrange(25) for _ in range(10)],
                "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(10)]}
    part = {"p_partkey": list(range(200)),
            "p_name": [f"{rng.choice(['cold', 'small', 'large', 'blue'])} "
                       f"{rng.choice(['widget', 'bolt', 'rod'])}" for _ in range(200)],
            "p_brand": [f"Brand#{rng.randint(1, 5)}{rng.randint(1, 5)}"
                        for _ in range(200)],
            "p_type": [rng.choice(["ECONOMY", "PROMO", "LARGE", "MEDIUM",
                                   "STANDARD", "SMALL"]) for _ in range(200)],
            "p_size": [rng.randint(1, 50) for _ in range(200)],
            "p_retailprice": [float(rng.randint(900, 2000)) for _ in range(200)]}
    orders = {"o_orderkey": list(range(1500)),
              "o_custkey": [rng.randrange(150) for _ in range(1500)],
              "o_orderstatus": [rng.choice("FPO") for _ in range(1500)],
              "o_totalprice": [round(rng.uniform(1000, 400000), 2)
                               for _ in range(1500)],
              "o_orderdate": [d0 + rng.randrange(2400) * day for _ in range(1500)],
              "o_orderpriority": [rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])
                                  for _ in range(1500)]}
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for _ in range(6000):
        qty = float(rng.randint(1, 50))
        li["l_orderkey"].append(rng.randrange(1500))
        li["l_partkey"].append(rng.randrange(200))
        li["l_suppkey"].append(rng.randrange(10))
        li["l_linenumber"].append(rng.randint(1, 7))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
        li["l_discount"].append(rng.randint(0, 10) / 100)
        li["l_tax"].append(rng.randint(0, 8) / 100)
        li["l_returnflag"].append(rng.choice("NRA"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(d0 + rng.randrange(2500) * day)
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": li}


def _schemas():
    import pyarrow as pa

    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    return {
        "documents": [("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)],
        "embeddings": [("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                       ("label", i32)],
        "events": [("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)],
        "region": [("r_regionkey", i32), ("r_name", s)],
        "nation": [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)],
        "customer": [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                     ("c_acctbal", f64), ("c_mktsegment", s)],
        "supplier": [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                     ("s_acctbal", f64)],
        "part": [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                 ("p_size", i32), ("p_retailprice", f64)],
        "orders": [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts),
                   ("o_orderpriority", s)],
        "lineitem": [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                     ("l_linenumber", i32), ("l_quantity", f64),
                     ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                     ("l_returnflag", s), ("l_linestatus", s),
                     ("l_shipdate", ts)],
    }


def write_tables(sf_dir: str) -> None:
    """One parquet file per table, ``<sf_dir>/<name>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(TABLE_SEED)
    cols = {"documents": _documents(rng), "embeddings": _embeddings(rng),
            "events": _events(rng), **_star(rng)}
    os.makedirs(sf_dir, exist_ok=True)
    for name, fields in _schemas().items():
        schema = pa.schema(fields)
        pq.write_table(pa.table(cols[name], schema=schema),
                       os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Leaves
# ---------------------------------------------------------------------------

def _count(df):
    from pyspark.sql import functions as F

    return df.agg(F.count("*")).collect()


def _collect(df):
    return df.collect()


# name -> (module, function, finishing action), as bench.py runs them.
# 11 of bench.py's 31 leaves: at least two per operator module, and every
# leaf whose operator memoizes through operators/_cache (decontaminate,
# bloom filter, n-gram clean, BM25, DSIR), so the warm pass shows what
# the cache saves. All 31 take about 60 s over the two passes, which a
# traced run cannot afford.
LEAVES = {
    "q_doc_minhash": ("dedup", "minhash_signatures", _count),
    "q_doc_decontaminate": ("dedup", "decontaminate", _count),
    "q_doc_bloom_filter": ("dedup", "bloom_filter_stats", _collect),
    "q_doc_ngram_clean": ("dedup", "ngram_clean", _count),
    "q_doc_bm25_topk": ("textstats", "bm25_topk", _count),
    "q_doc_dsir_weights": ("textstats", "dsir_weights", _count),
    "q_doc_gopher_rules": ("textstats", "gopher_rules", _count),
    "q_emb_topk_cosine": ("similarity", "topk_bruteforce", _count),
    "q_emb_centroid_outliers": ("similarity", "centroid_outliers", _count),
    "q_rel_revenue_by_nation": ("relational", "revenue_by_nation", _collect),
    "q_events_asof_join": ("relational", "event_asof_join", _count),
}
MODULES = ("dedup", "textstats", "similarity", "relational")


def digest(rows) -> str:
    """Order-free digest of a query result; floats are compared to six
    significant digits, so summation order cannot change it."""
    def cell(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{cell(v[k])}" for k in sorted(v)) + "}"
        return repr(v)

    lines = sorted("|".join(cell(v) for v in row) for row in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def leaf_call(spark, sf_dir: str, name: str):
    """A thunk that runs one leaf the way bench.py does and returns its
    collected rows."""
    import importlib

    module, fn, finish = LEAVES[name]
    mod = importlib.import_module(
        f"webtableextractionsystem_spark.operators.{module}")
    return lambda: finish(getattr(mod, fn)(spark, sf_dir))


def load_pinned() -> dict[str, str]:
    with open(PINNED) as f:
        return json.load(f)
