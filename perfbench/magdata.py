"""Seeded generator of the MAG-shaped tables the analytics queries read.

The tables follow the shape of the repository's test data (a TPC-H-like
star schema plus a `documents` table): the same columns, parquet types
and value domains, drawn uniformly from a `random.Random(seed)`, so the
same seed gives byte-identical tables. Sizes are those of the sf0.001 set.
"""
import datetime
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "documents": 500}
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()
LANGS = [("en", 44), ("zh", 15), ("de", 14), ("fr", 13), ("es", 14)]
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
TYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY0 = datetime.datetime(1995, 1, 1)
DAYS = (datetime.datetime(2001, 8, 1) - DAY0).days


def _tables(seed: int) -> dict:
    rng = random.Random(seed)
    n = SIZES

    def money(lo, hi):
        return round(rng.uniform(lo, hi), 2)

    def day():
        return DAY0 + datetime.timedelta(days=rng.randrange(DAYS + 1))

    customer = {
        "c_custkey": list(range(n["customer"])),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": [rng.randrange(25) for _ in range(n["customer"])],
        "c_acctbal": [money(-999.99, 9999.99) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])],
    }
    supplier = {
        "s_suppkey": list(range(n["supplier"])),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": [rng.randrange(25) for _ in range(n["supplier"])],
        "s_acctbal": [money(-999.99, 9999.99) for _ in range(n["supplier"])],
    }
    part = {
        "p_partkey": list(range(n["part"])),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n["part"])],
        "p_type": [rng.choice(TYPES) for _ in range(n["part"])],
        "p_size": [rng.randint(1, 50) for _ in range(n["part"])],
        "p_retailprice": [round(900 + (i % 1000) / 10, 1) for i in range(n["part"])],
    }
    orders = {
        "o_orderkey": list(range(n["orders"])),
        "o_custkey": [rng.randrange(n["customer"]) for _ in range(n["orders"])],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [money(1000, 500000) for _ in range(n["orders"])],
        "o_orderdate": [day() for _ in range(n["orders"])],
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n["orders"])],
    }
    m = n["lineitem"]
    lineitem = {
        "l_orderkey": [rng.randrange(n["orders"]) for _ in range(m)],
        "l_partkey": [rng.randrange(n["part"]) for _ in range(m)],
        "l_suppkey": [rng.randrange(n["supplier"]) for _ in range(m)],
        "l_linenumber": [rng.randint(1, 7) for _ in range(m)],
        "l_quantity": [float(rng.randint(1, 50)) for _ in range(m)],
        "l_extendedprice": [money(900, 100000) for _ in range(m)],
        "l_discount": [rng.randint(0, 10) / 100 for _ in range(m)],
        "l_tax": [rng.randint(0, 8) / 100 for _ in range(m)],
        "l_returnflag": [rng.choice("ANR") for _ in range(m)],
        "l_linestatus": [rng.choice("OF") for _ in range(m)],
        "l_shipdate": [day() for _ in range(m)],
    }
    langs, weights = zip(*LANGS)
    texts = [" ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 80)))
             for _ in range(n["documents"])]
    documents = {
        "doc_id": list(range(n["documents"])),
        "text": texts,
        "lang": rng.choices(langs, weights, k=n["documents"]),
        "source": [f"src{rng.randrange(20)}" for _ in range(n["documents"])],
        "n_chars": [len(t) for t in texts],
    }
    return {"customer": customer, "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "documents": documents}


INT32 = {"c_nationkey", "s_nationkey", "p_size", "l_linenumber"}


def _type(name, values):
    if name in INT32:
        return pa.int32()
    v = values[0]
    if isinstance(v, datetime.datetime):
        return pa.timestamp("us")
    if isinstance(v, int):
        return pa.int64()
    if isinstance(v, float):
        return pa.float64()
    return pa.string()


def write(seed: int, out: Path) -> None:
    """Writes <out>/<table>.parquet for every table."""
    out.mkdir(parents=True, exist_ok=True)
    for name, cols in _tables(seed).items():
        schema = pa.schema([(c, _type(c, v)) for c, v in cols.items()])
        pq.write_table(pa.table(cols, schema=schema), out / f"{name}.parquet")
