"""Seeded input generation for the benchmark workloads.

Everything the program reads is made here from ``--seed``: the same seed
gives byte-identical inputs, and row counts do not depend on the seed, so
run-to-run spread measures the program, not the input size.

* ``tables``: the ten fixture tables (TPC-H-style star schema, ``events``,
  ``documents``, ``embeddings``) with the column types and value ranges of
  the repository's sf0.1 fixture, at ``SAMPLE`` of its row counts. Each
  table of 1000 rows or more is split into ``shards`` files, so a scan
  never has fewer busy tasks than cores.
* ``dump``: a mongoexport extended-JSON dump of three collections plus a
  manifest of the documents and per-``year=`` counts each export config
  must produce.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: share of the sf0.1 fixture's row counts in the ``tables`` set
SAMPLE = 0.2
#: sf0.1 fixture row counts (TESTDATA.md)
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
#: documents in the mongoexport dump, split across its three collections
DUMP_DOCS = {"orders_log": 15_000, "ledger": 10_000, "profiles": 5_000}
#: the date range of the ranged export config (inclusive, like the reference)
RANGE = (dt.datetime(2019, 1, 1), dt.datetime(2022, 12, 31, 23, 59, 59))

VOCAB = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key window "
    "table merge vector join"
).split()
PART_ADJ = "blue cold hot red small new old large".split()
PART_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()


def _rng(seed: int, salt: str) -> np.random.Generator:
    """Independent stream per (seed, table), stable across numpy versions."""
    return np.random.default_rng([seed, *salt.encode()])


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[ms]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table: pa.Table, dest: str, shards: int) -> None:
    """One directory per table; big tables split into ``shards`` files."""
    os.makedirs(dest, exist_ok=True)
    n = table.num_rows
    k = shards if n >= 1000 else 1
    bounds = np.linspace(0, n, k + 1).astype(int)
    for i in range(k):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(dest, f"part-{i:05d}.parquet"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    n = {t: max(1, int(round(c * SAMPLE))) for t, c in SF01_ROWS.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    r = _rng(seed, "customer")
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table(
        {
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": r.integers(0, 25, len(k)).astype(np.int32),
            "c_acctbal": _money(r, len(k), -999.99, 9999.99),
            "c_mktsegment": r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], len(k)
            ),
        }
    )
    r = _rng(seed, "supplier")
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table(
        {
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": r.integers(0, 25, len(k)).astype(np.int32),
            "s_acctbal": _money(r, len(k), -999.99, 9999.99),
        }
    )
    r = _rng(seed, "part")
    k = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": k,
            "p_name": [
                f"{a} {b}"
                for a, b in zip(r.choice(PART_ADJ, len(k)), r.choice(PART_NOUN, len(k)))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, len(k))],
            "p_type": r.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], len(k)
            ),
            "p_size": r.integers(1, 51, len(k)).astype(np.int32),
            "p_retailprice": np.round(900 + (k % 1000) * 0.1, 1),
        }
    )
    r = _rng(seed, "orders")
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table(
        {
            "o_orderkey": k,
            "o_custkey": r.integers(0, n["customer"], len(k)),
            "o_orderstatus": r.choice(["F", "O", "P"], len(k)),
            "o_totalprice": _money(r, len(k), 1000, 500000),
            "o_orderdate": _days(r, len(k), dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], len(k)
            ),
        }
    )
    r = _rng(seed, "lineitem")
    m = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n["orders"], m),
            "l_partkey": r.integers(0, n["part"], m),
            "l_suppkey": r.integers(0, n["supplier"], m),
            "l_linenumber": r.integers(1, 8, m).astype(np.int32),
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, m, 900, 105000),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": r.choice(["A", "N", "R"], m),
            "l_linestatus": r.choice(["F", "O"], m),
            "l_shipdate": _days(r, m, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    r = _rng(seed, "events")
    m = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86400 * 10**6
    out["events"] = pa.table(
        {
            "event_id": np.arange(m, dtype=np.int64),
            "ts": pa.array(t0 + np.sort(r.integers(0, span_us, m)), pa.timestamp("us")),
            "user_id": r.integers(0, max(1, int(1500 * SAMPLE)), m),
            "event_type": r.choice(["click", "error", "purchase", "signup", "view"], m),
            "value": np.round(r.exponential(50.0, m), 2),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, m)],
        }
    )
    out["documents"] = _documents(seed, n["documents"])
    r = _rng(seed, "embeddings")
    m = n["embeddings"]
    labels = r.integers(0, 10, m).astype(np.int32)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 1.5, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(m, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels,
        }
    )
    return out


def _documents(seed: int, m: int) -> pa.Table:
    """Token-soup documents with exact and near duplicates (the fixture's
    near-duplicate marks a copy by appending ``dup``)."""
    r = _rng(seed, "documents")
    texts: list[str] = []
    for i in range(m):
        roll = r.random()
        if i > 10 and roll < 0.03:
            texts.append(texts[int(r.integers(0, i))])
        elif i > 10 and roll < 0.10:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(r.choice(VOCAB, int(r.integers(10, 101)))))
    lang = r.choice(["en", "es", "zh", "de", "fr"], m, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": np.arange(m, dtype=np.int64),
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(m)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def write_tables(dest: str, seed: int, shards: int) -> dict[str, int]:
    rows = {}
    for name, table in make_tables(seed).items():
        _write(table, os.path.join(dest, f"{name}.parquet"), shards)
        rows[name] = table.num_rows
    return rows


# --------------------------------------------------------------- mongoexport


_COLL_TAG = {"orders_log": 1, "ledger": 2, "profiles": 3}


def _oid(seed: int, coll: str, i: int) -> dict:
    return {"$oid": f"{seed & 0xFFFFFFFF:08x}{_COLL_TAG[coll]:02x}{i:014x}"}


def _iso(ts: dt.datetime) -> dict:
    return {"$date": ts.isoformat(timespec="milliseconds") + "Z"}


def _seconds(rng, n, start: dt.datetime, end: dt.datetime) -> list[dt.datetime]:
    span = int((end - start).total_seconds())
    return [start + dt.timedelta(seconds=int(s)) for s in rng.integers(0, span + 1, n)]


def make_dump(dest: str, seed: int, shards: int) -> dict:
    """Write the three-collection dump under ``dest/<coll>/`` (``shards``
    files each) and return the manifest of expected export results."""
    lo, hi = RANGE
    docs: dict[str, list[dict]] = {}
    years: dict[str, list[str | None]] = {}

    # dated, nested payloads and tag arrays, ~2% documents without a date
    r = _rng(seed, "orders_log")
    m = DUMP_DOCS["orders_log"]
    when = _seconds(r, m, dt.datetime(2019, 1, 1), dt.datetime(2022, 12, 31))
    missing = r.random(m) < 0.02
    tiers = r.choice(["free", "pro", "team"], m)
    docs["orders_log"], years["orders_log"] = [], []
    for i in range(m):
        d = {
            "_id": _oid(seed, "orders_log", i),
            "order_no": {"$numberLong": str(i)},
            "customer_id": {"$numberLong": str(int(r.integers(0, 5000)))},
            # nested values are maps after schema inference, so each level
            # keeps one value type
            "payload": {"tier": str(tiers[i]), "note": " ".join(r.choice(VOCAB, 6))},
            "items": [
                {"sku": f"sku-{int(s)}", "qty": str(int(q))}
                for s, q in zip(r.integers(0, 900, 3), r.integers(1, 9, 3))
            ],
            "tags": [str(t) for t in r.choice(VOCAB, int(r.integers(1, 5)))],
            "amount": float(np.round(r.uniform(1, 900), 2)),
        }
        if missing[i]:
            d["created_at"] = None
            years["orders_log"].append(None)
        else:
            d["created_at"] = _iso(when[i])
            years["orders_log"].append(when[i])
        docs["orders_log"].append(d)

    # dated, $numberLong / $numberDecimal fields, dates spanning past RANGE
    r = _rng(seed, "ledger")
    m = DUMP_DOCS["ledger"]
    when = _seconds(r, m, dt.datetime(2017, 1, 1), dt.datetime(2024, 12, 31))
    cents = r.integers(-500_000, 5_000_000, m)
    docs["ledger"], years["ledger"] = [], []
    for i in range(m):
        docs["ledger"].append(
            {
                "_id": _oid(seed, "ledger", i),
                "posted_at": _iso(when[i]),
                "account": {"$numberLong": str(int(r.integers(10**9, 10**10)))},
                "seq": {"$numberLong": str(i)},
                "amount": {"$numberDecimal": str(decimal.Decimal(int(cents[i])) / 100)},
                "memo": str(r.choice(VOCAB)),
            }
        )
        years["ledger"].append(when[i])

    # no date field: exported whole
    r = _rng(seed, "profiles")
    m = DUMP_DOCS["profiles"]
    docs["profiles"] = [
        {
            "_id": _oid(seed, "profiles", i),
            "user_id": {"$numberLong": str(i)},
            "name": f"user-{i:06d}",
            "prefs": {"lang": str(r.choice(["en", "de", "fr"])),
                      "theme": str(r.choice(["dark", "light"]))},
            "score": float(np.round(r.normal(50, 10), 3)),
        }
        for i in range(m)
    ]
    years["profiles"] = []

    for coll, rows in docs.items():
        d = os.path.join(dest, coll)
        os.makedirs(d, exist_ok=True)
        bounds = np.linspace(0, len(rows), shards + 1).astype(int)
        for s in range(shards):
            with open(os.path.join(d, f"{coll}-{s:03d}.json"), "w", encoding="utf-8") as fh:
                for doc in rows[bounds[s]:bounds[s + 1]]:
                    fh.write(json.dumps(doc) + "\n")

    def per_year(coll: str, ranged: bool) -> dict[str, int]:
        counts: dict[str, int] = {}
        for ts in years[coll]:
            if ranged and (ts is None or not lo <= ts <= hi):
                continue
            y = "unknown" if ts is None else str(ts.year)
            counts[y] = counts.get(y, 0) + 1
        return counts

    expect = {}
    for cfg in ("full", "ranged"):
        expect[cfg] = {
            "orders_log": per_year("orders_log", cfg == "ranged"),
            "ledger": per_year("ledger", cfg == "ranged"),
            "profiles": {"": len(docs["profiles"])},
        }
    return {"docs": {c: len(v) for c, v in docs.items()}, "expect": expect}

