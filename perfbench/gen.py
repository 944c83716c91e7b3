"""Seeded input generators for the benchmark.

Every generator takes a seed and an output directory and writes only
there. The same seed gives byte-identical files (pyarrow writes no
timestamps into parquet, and JSON/CSV text is built in a fixed order).

* ``write_tables`` writes the ten warehouse tables the registry reads
  (``region`` … ``embeddings``), one parquet file each, with the
  column names, types and value ranges of the TPC-H-style test data
  the query builders were written against.  ``docs`` sets the corpus
  size; the other sizes follow from ``scale``.
* ``write_yelp_tree`` writes a Yelp-shaped source tree for
  ``sources.readers.ingest_directory``: five NDJSON files (review is
  the bulk), one multi-line JSON array, two climate CSVs whose
  headers need sanitizing, and a few corrupt NDJSON lines.  It also
  writes seeded review batches (updates and inserts of reviews).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EMBED_DIMS = 64


def _days(rng, n, start, end):
    """``n`` midnight timestamps (µs) uniformly between two dates."""
    lo = (start - dt.date(1970, 1, 1)).days
    hi = (end - dt.date(1970, 1, 1)).days
    return pa.array(
        rng.integers(lo, hi + 1, n).astype("int64") * 86_400_000_000,
        pa.timestamp("us"),
    )


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(out_dir: str, seed: int, scale: float, docs: int) -> dict:
    """Write the ten registry tables; returns {table: rows}."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * scale), max(int(1_000 * scale), 20)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    adj = ["red", "blue", "small", "hot", "green", "large", "cold", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)],
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    # Events: strictly increasing event time over 30 days (the stream
    # replays cut micro-batches along it), no null timestamps.
    t0 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    gaps = rng.integers(1, 2 * 30 * 86_400_000_000 // n_ev, n_ev)
    n_users = max(50, n_ev // 66)
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(t0 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Documents: random vocabulary text; ~5% near-duplicates of an
    # earlier document with a " dup" tail, so every dedup stage has
    # pairs to find.
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(docs):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))]))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(docs, dtype="int64")),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((docs, EMBED_DIMS)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(docs, dtype="int64")),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, docs).astype("int32")),
    })
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# Yelp-shaped source tree for the ELT pipeline.

FOOD = (
    "tasty bland spicy fresh stale cheap pricey cozy loud quiet friendly rude "
    "slow helpful clean dirty great awful warm cold crispy soggy salty sweet"
).split()
CITIES = (
    ("Las Vegas", "NV"), ("Henderson", "NV"), ("Paradise", "AZ"), ("Phoenix", "AZ"),
    ("Tempe", "AZ"), ("Toronto", "ON"), ("Calgary", "AB"), ("Cleveland", "OH"),
)
BATCH_SHARE = 0.05  # review rows per batch, as a share of the base reviews


def _ts(base: dt.datetime, minutes: int) -> str:
    return (base + dt.timedelta(minutes=int(minutes))).strftime("%Y-%m-%d %H:%M:%S")


def _review(rng, rid: int, n_user: int, n_biz: int, base: dt.datetime, minutes: int) -> dict:
    words = [FOOD[k] for k in rng.integers(0, len(FOOD), int(rng.integers(5, 60)))]
    text = " ".join(words)
    if rng.random() < 0.1:
        text += "\nGreat spot! \U0001F355"
    return {
        "review_id": f"r{rid:021d}",
        "user_id": f"u{int(rng.integers(0, n_user)):021d}",
        "business_id": f"b{int(rng.integers(0, n_biz)):021d}",
        "stars": float(rng.integers(1, 6)),
        "useful": int(rng.integers(0, 20)),
        "funny": int(rng.integers(0, 10)),
        "cool": int(rng.integers(0, 10)),
        "text": text,
        "date": _ts(base, rng.integers(0, minutes)),
    }


def _ndjson(path: str, rows, corrupt: list[str] = ()) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
        for line in corrupt:
            f.write(line + "\n")


def write_yelp_tree(root: str, seed: int, reviews: int, batches: int) -> dict:
    """Write ``root/src`` (the tree to ingest) and ``root/batches``
    (review batches, NDJSON).  Returns sizes and the corrupt-line count.

    Base reviews are dated 2019-2021 and name all businesses but the
    last twentieth; batch ``b`` is dated in the 30 days from
    2022-01-01 + 30·b days and may name any business.  A batch after a
    first load therefore brings rows newer than anything loaded, for
    known and for new businesses."""
    rng = np.random.default_rng([seed, 2])
    src = os.path.join(root, "src")
    for sub in ("yelp", "yelp/extra", "climate"):
        os.makedirs(os.path.join(src, sub), exist_ok=True)
    base = dt.datetime(2019, 1, 1, 8, 0, 0)
    n_biz, n_user = max(reviews // 20, 50), max(reviews // 20, 50)
    n_reviewed = n_biz - n_biz // 20

    def business(i: int) -> dict:
        city, state = CITIES[int(rng.integers(0, len(CITIES)))]
        return {
            "business_id": f"b{i:021d}",
            "name": f"{FOOD[int(rng.integers(0, len(FOOD)))].title()} Grill",
            "address": f"{int(rng.integers(1, 9999))} Main St",
            "city": city,
            "state": state,
            "postal_code": f"{int(rng.integers(10000, 99999))}",
            "latitude": round(float(rng.uniform(33.0, 44.0)), 6),
            "longitude": round(float(rng.uniform(-115.0, -79.0)), 6),
            "stars": float(rng.integers(2, 11)) / 2.0,
            "review_count": int(rng.integers(3, 500)),
            "is_open": int(rng.integers(0, 2)),
            "attributes": {"WiFi": "u'free'", "BikeParking": str(bool(rng.integers(0, 2)))},
            "categories": "Restaurants, Bars",
        }

    _ndjson(os.path.join(src, "yelp", "yelp_academic_dataset_business.json"),
            [business(i) for i in range(n_biz)])
    with open(os.path.join(src, "yelp", "extra", "yelp_business_extra.json"), "w",
              encoding="utf-8", newline="\n") as f:
        json.dump([business(n_biz + i) for i in range(max(n_biz // 4, 10))], f, indent=1)
    _ndjson(os.path.join(src, "yelp", "yelp_academic_dataset_user.json"), [
        {
            "user_id": f"u{i:021d}",
            "name": FOOD[int(rng.integers(0, len(FOOD)))].title(),
            "review_count": int(rng.integers(0, 900)),
            "yelping_since": _ts(base, rng.integers(0, 365 * 1440)),
            "useful": int(rng.integers(0, 3000)),
            "fans": int(rng.integers(0, 50)),
            "average_stars": round(float(rng.uniform(1.0, 5.0)), 2),
        }
        for i in range(n_user)
    ])
    n_corrupt = max(reviews // 500, 2)
    corrupt = [f'{{"review_id": "r{i:021d}", "broken' if i % 2 else f"not json at all #{i}"
               for i in range(n_corrupt)]
    _ndjson(os.path.join(src, "yelp", "yelp_academic_dataset_review.json"),
            [_review(rng, i, n_user, n_reviewed, base, 3 * 365 * 1440)
             for i in range(reviews)], corrupt)
    _ndjson(os.path.join(src, "yelp", "yelp_academic_dataset_tip.json"), [
        {
            "user_id": f"u{int(rng.integers(0, n_user)):021d}",
            "business_id": f"b{int(rng.integers(0, n_biz)):021d}",
            "text": " ".join(FOOD[k] for k in rng.integers(0, len(FOOD), 5)),
            "date": _ts(base, rng.integers(0, 3 * 365 * 1440)),
            "compliment_count": int(rng.integers(0, 10)),
        }
        for _ in range(reviews // 10)
    ])
    _ndjson(os.path.join(src, "yelp", "yelp_academic_dataset_checkin.json"), [
        {
            "business_id": f"b{i:021d}",
            "date": ", ".join(_ts(base, m) for m in sorted(rng.integers(0, 3 * 365 * 1440, 8))),
        }
        for i in range(n_biz)
    ])
    days = [dt.date(2020, 1, 1) + dt.timedelta(days=d) for d in range(366)]
    with open(os.path.join(src, "climate", "lv_precipitation.csv"), "w", newline="\n") as f:
        f.write("date,precipitation inch,precipitation normal inch\n")
        for d in days:
            p = "T" if rng.random() < 0.1 else f"{rng.exponential(0.2):.2f}"
            f.write(f"{d:%Y%m%d},{p},{rng.uniform(0, 0.2):.3f}\n")
    with open(os.path.join(src, "climate", "lv_temperature.csv"), "w", newline="\n") as f:
        f.write("date,min temperature degreeF,max temperature degreeF,"
                "normal min temperature degreeF,normal max temperature degreeF\n")
        for d in days:
            lo = int(rng.integers(30, 80))
            f.write(f"{d:%Y%m%d},{lo},{lo + int(rng.integers(5, 30))},"
                    f"{lo - 2.5:.1f},{lo + 15.5:.1f}\n")
    # Batches: each BATCH_SHARE of the review rows, 80% updates of
    # existing reviews and 20% inserts of new ones.
    bdir = os.path.join(root, "batches")
    os.makedirs(bdir, exist_ok=True)
    per = max(int(reviews * BATCH_SHARE), 10)
    n_upd = int(per * 0.8)
    next_id = reviews
    for b in range(batches):
        when = dt.datetime(2022, 1, 1) + dt.timedelta(days=30 * b)
        upd = rng.choice(reviews, n_upd, replace=False)
        ids = [int(i) for i in sorted(upd)] + list(range(next_id, next_id + per - n_upd))
        next_id += per - n_upd
        _ndjson(os.path.join(bdir, f"batch_{b:02d}.json"),
                [_review(rng, i, n_user, n_biz, when, 30 * 1440) for i in ids])
    return {"reviews": reviews, "businesses": n_biz, "users": n_user,
            "corrupt_lines": n_corrupt, "batches": batches, "batch_rows": per,
            "batch_inserts": per - n_upd}


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(root) for f in files
    )
