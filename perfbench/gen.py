"""Seeded input generation for the benchmark.

Every input the engine sees is made here from ``--seed``: the TPC-H-ish
star schema plus ``events`` and ``documents`` with the schemas and
value domains of the fixture corpus (TESTDATA.md), the injected
near-duplicates of ``documents``, and the base tables, CDC batches and
per-batch parameters of ``lake_ingest``. Same seed, same bytes.
Nothing here imports Spark.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
P_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "wheel"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window batchy index"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = rng.integers(0, int((b - a).astype(int)) + 1, n)
    return (a + d).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, supplier, part, orders, lineitem,
    events and documents with the fixture corpus's schemas and value
    domains, keys dense from 0."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = np.char.add(
        np.char.add(rng.choice(P_ADJ, n_part), " "), rng.choice(P_NOUN, n_part)
    )
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    start = np.datetime64("2024-01-01", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(40.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = documents(rng, n_doc)
    return out


def _doc_table(ids, texts, rng) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": np.asarray(ids, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def documents(rng, n: int) -> pa.Table:
    """Random bags of the corpus vocabulary, 10..100 words each."""
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    vocab = np.array(WORDS)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    return _doc_table(range(n), texts, rng)


def dedup_corpus(seed: int, docs: pa.Table, dup_share: float) -> pa.Table:
    """``docs`` with ``dup_share`` of its rows overwritten by injected
    duplicates of documents of at least 40 words: half exact
    (upper-cased or double-spaced), half near (one word swapped for a
    word of a 20,000-word vocabulary, so 3-shingle Jaccard stays above
    0.8)."""
    rng = np.random.default_rng([seed, 2])
    wide = np.char.add("w", np.arange(20_000).astype(str))
    texts = docs.column("text").to_pylist()
    n = len(texts)
    long_docs = np.array([i for i, t in enumerate(texts) if t.count(" ") >= 39])
    n_dup = int(n * dup_share)
    slots = rng.permutation(n)
    origins = set(rng.choice(long_docs, n_dup, replace=False).tolist())
    targets = [int(i) for i in slots if int(i) not in origins][:n_dup]
    for t, o in zip(targets, sorted(origins)):
        w = texts[o].split()
        r = rng.random()
        if r < 0.25:
            texts[t] = texts[o].upper()
        elif r < 0.5:
            texts[t] = "  ".join(w)
        else:
            w[int(rng.integers(0, len(w)))] = str(wide[rng.integers(0, len(wide))])
            texts[t] = " ".join(w)
    return _doc_table(range(n), texts, rng)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, dict]:
    """One ``<name>.parquet`` per table; returns rows and bytes each."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    for name, tbl in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        info[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return info


def _cdc_rows(rng, keys: np.ndarray) -> pa.Table:
    """Lineitem-shaped change rows keyed by ``lk``."""
    n = len(keys)
    return pa.table({
        "lk": np.asarray(keys, dtype=np.int64),
        "l_orderkey": rng.integers(0, 150_000, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
    })


def _event_rows(rng, first_id: int, n: int, hour_lo: int, hours: int) -> pa.Table:
    start = np.datetime64("2024-01-01", "us") + np.timedelta64(hour_lo, "h")
    ts = start + np.sort(rng.integers(0, hours * 3_600_000_000, n)).astype(
        "timedelta64[us]"
    )
    value = np.round(np.minimum(rng.exponential(40.0, n), 560.0), 2)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": value,
        "value_e2": np.round(value * 100).astype(np.int64),
    })


def ingest_base(seed: int, base_rows: int, event_rows: int) -> dict[str, pa.Table]:
    """``base`` seeds both CDC tables (keys ``0..base_rows-1``) and
    ``events0`` the rollup source (the first two hours of events)."""
    rng = np.random.default_rng([seed, 3])
    return {
        "base": _cdc_rows(rng, np.arange(base_rows)),
        "events0": _event_rows(rng, 0, event_rows, 0, 2),
    }


def ingest_batch(
    seed: int, b: int, base_rows: int, append_rows: int, merge_rows: int,
    event_rows: int,
) -> tuple[dict[str, pa.Table], dict]:
    """Batch ``b`` of ``lake_ingest``, made from ``(seed, b)`` alone so
    batches can be generated one at a time as the run consumes them.

    ``b<NNN>_append`` brings fresh keys; ``b<NNN>_merge`` half keys
    issued before the batch (present in the target table or not) and
    half fresh ones, so it is an upsert; ``b<NNN>_events`` the next two
    hours of events plus one hour of late data. The parameters are the
    batch's delete range (200 keys at a seeded offset), its update
    predicate (a return flag and one key residue mod 10, so about 1/30
    of the rows) and its read-after-write point lookup (a key the batch
    appends). The sizes are fixed so every seed does the same work."""
    rng = np.random.default_rng([seed, 3, b])
    per_batch = append_rows + merge_rows - merge_rows // 2
    first = base_rows + b * per_batch
    fresh = np.arange(first, first + append_rows)
    old = rng.choice(first + append_rows, merge_rows // 2, replace=False)
    new = np.arange(first + append_rows, first + per_batch)
    tag = f"b{b:03d}"
    tables = {
        f"{tag}_append": _cdc_rows(rng, fresh),
        f"{tag}_merge": _cdc_rows(rng, np.concatenate([old, new])),
        f"{tag}_events": _event_rows(rng, (b + 1) * event_rows, event_rows, 2 * b + 1, 3),
    }
    lo = int(rng.integers(0, first + per_batch - 200))
    params = {
        "batch": b,
        "delete": (lo, lo + 199),
        "update": (str(rng.choice(["A", "N", "R"])), 10, int(rng.integers(0, 10))),
        "lookup": int(rng.choice(fresh)),
    }
    return tables, params
