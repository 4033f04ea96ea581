"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed (and a chunk index), so
the same seed always produces byte-identical files and a different seed
produces different ones. Nothing here imports Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np

# --------------------------------------------------------------------------
# ingest_compact: JSONL log chunks
# --------------------------------------------------------------------------

#: rows per collected chunk (the reference synthetic spec's chunk size)
CHUNK_ROWS = 10_000
#: share of rows whose timestamp is null; validation drops them
NULL_TS_SHARE = 0.02
#: rows land in ACCOUNTS x 3 months = 9 (tp_index, tp_year, tp_month) keys
ACCOUNTS = ("acct0", "acct1", "acct2")
HOSTS = tuple(f"web-{i:02d}" for i in range(20))
STATUSES = (200, 201, 304, 404, 500)
_STATUS_P = (0.70, 0.05, 0.10, 0.10, 0.05)
_METHODS = ("GET", "POST", "PUT", "DELETE")
_EPOCH = dt.datetime(2024, 1, 1)
DAYS = 91  # 2024-01-01 .. 2024-03-31


def day_str(day: int) -> str:
    return (_EPOCH + dt.timedelta(days=day)).strftime("%Y-%m-%d")


class LogTally:
    """Exact per-(day, account, host, status) row counts and per-(day,
    account) byte sums of every valid row generated so far: the oracle
    for the interleaved queries."""

    def __init__(self) -> None:
        self.count = np.zeros((DAYS, len(ACCOUNTS), len(HOSTS), len(STATUSES)), np.int64)
        self.bytes = np.zeros((DAYS, len(ACCOUNTS)), np.int64)

    def add(self, day, acct, host, status, nbytes, valid) -> None:
        np.add.at(self.count, (day[valid], acct[valid], host[valid], status[valid]), 1)
        np.add.at(self.bytes, (day[valid], acct[valid]), nbytes[valid])


def write_log_chunk(path: str, seed: int, index: int, tally: LogTally) -> tuple[int, int]:
    """Write chunk ``index`` of the seed's log stream as JSONL and fold
    its valid rows into ``tally``. Returns (rows, rows with null ts)."""
    rng = np.random.default_rng([seed, 1, index])
    n = CHUNK_ROWS
    day = rng.integers(0, DAYS, n)
    secs = rng.integers(0, 86_400, n)
    acct = rng.integers(0, len(ACCOUNTS), n)
    host = rng.integers(0, len(HOSTS), n)
    status = rng.choice(len(STATUSES), n, p=_STATUS_P)
    method = rng.integers(0, len(_METHODS), n)
    item = rng.integers(0, 5000, n)
    nbytes = rng.integers(0, 200_000, n)
    latency = rng.integers(1, 50_000, n)  # tenths of a millisecond
    null_ts = rng.random(n) < NULL_TS_SHARE
    lines = []
    for i in range(n):
        if null_ts[i]:
            ts = "null"
        else:
            t = _EPOCH + dt.timedelta(days=int(day[i]), seconds=int(secs[i]))
            ts = t.strftime('"%Y-%m-%dT%H:%M:%SZ"')
        lines.append(
            f'{{"ts":{ts},"account":"{ACCOUNTS[acct[i]]}","host":"{HOSTS[host[i]]}",'
            f'"method":"{_METHODS[method[i]]}","path":"/api/v1/items/{item[i]}",'
            f'"status":{STATUSES[status[i]]},"bytes":{nbytes[i]},'
            f'"latency_ms":{latency[i] / 10:.1f}}}'
        )
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    tally.add(day, acct, host, status, nbytes, ~null_ts)
    return n, int(null_ts.sum())


# --------------------------------------------------------------------------
# analytics_registry: the ten test tables (TESTDATA.md schemas)
# --------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_COLORS = ("blue", "red", "hot", "cold", "small", "big", "green", "dark")
_NOUNS = ("ring", "plate", "gear", "rod", "bolt", "anvil", "pipe", "wheel")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window dup"
).split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(start: dt.date, offsets) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "D")
    return (base + offsets.astype("timedelta64[D]")).astype("datetime64[us]")


def registry_tables(seed: int, sf: float) -> dict:
    """The ten registry input tables at scale factor ``sf`` as pyarrow
    Tables (lineitem ~ 6M x sf rows, like the TESTDATA.md fixtures)."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    t: dict = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_COLORS[a]} {_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })
    odate = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(dt.date(1995, 1, 1), odate),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(dt.date(1995, 1, 1), np.repeat(odate, lines) + rng.integers(1, 122, n_li)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(100, int(15_000 * sf)), n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # exact re-post of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:  # near-duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.1, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_registry_tables(out_dir: str, seed: int, sf: float) -> tuple[int, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one file, one
    row group, like the TESTDATA.md fixtures). Returns (rows, bytes)."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    rows = size = 0
    for name, table in registry_tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=len(table) or 1)
        rows += len(table)
        size += os.path.getsize(path)
    return rows, size
