"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is derived from ``--seed``
here, so the same seed always produces the same inputs. Two families:

- the push project's seed tables (accounts, contacts, transactions),
  shaped like the reference integration project (FIXTURES.md §1);
- a TPC-H-ish analytics lake (region ... embeddings) written as parquet
  with the same column names, types and value ranges as the testdata
  (TESTDATA.md) the query registry was written against.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# All transactions are dated from here on, far before any run date, so
# the daily model's ``< current_date()`` filter never drops a day and the
# same seed gives the same rows on any calendar day.
TX_BASE = datetime.datetime(2020, 1, 1)

_FIRST = ["Ana", "Ben", "Chen", "Dara", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun"]
_LAST = ["Lopez", "Scott", "Kim", "Okafor", "Novak", "Silva", "Moreau", "Ito"]
_TITLES = ["Engineer", "Analyst", "Manager", "Director", "Clerk", "Buyer", "Nurse"]
_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window data column join small customer query order stream "
    "filter group big vector"
).split()


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, *stream.encode()])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# --- push project -----------------------------------------------------------


def accounts(seed: int, start: int, n: int) -> pd.DataFrame:
    """Accounts ``start .. start+n-1``; ids are unique slugs."""
    rng = rng_for(seed, f"accounts-{start}")
    words = rng.choice(_LAST, size=(n, 2))
    ids = np.arange(start, start + n)
    return pd.DataFrame(
        {
            "NAME": [f"{a}, {b} and Co {i}" for (a, b), i in zip(words, ids)],
            "ACCOUNT_ID": [f"account-{i:07d}" for i in ids],
        }
    )


def contacts(seed: int, start: int, n: int) -> pd.DataFrame:
    rng = rng_for(seed, f"contacts-{start}")
    ids = np.arange(start, start + n, dtype=np.int32)
    return pd.DataFrame(
        {
            "CONTACT_NUMBER": ids,
            "FIRST_NAME": rng.choice(_FIRST, n),
            "LAST_NAME": rng.choice(_LAST, n),
            "EMAIL": [f"user{i}@example.com" for i in ids],
            "TITLE": rng.choice(_TITLES, n),
        }
    )


def transactions(
    seed: int, n_accounts: int, day_start: int, n_days: int
) -> pd.DataFrame:
    """One or two transactions per (account, day) for accounts
    ``0..n_accounts-1`` and days ``day_start .. day_start+n_days-1``, so
    the daily aggregate has exactly ``n_accounts * n_days`` rows."""
    rng = rng_for(seed, f"tx-{day_start}-{n_days}")
    acct = np.repeat(np.arange(n_accounts), n_days)
    day = np.tile(np.arange(day_start, day_start + n_days), n_accounts)
    per = rng.integers(1, 3, acct.size)
    acct, day = np.repeat(acct, per), np.repeat(day, per)
    secs = rng.integers(0, 86400, acct.size)
    ts = (
        np.datetime64(TX_BASE, "s")
        + day.astype("timedelta64[D]")
        + secs.astype("timedelta64[s]")
    )
    return pd.DataFrame(
        {
            "ACCOUNT_ID": [f"account-{a:07d}" for a in acct],
            "TRANSACTION_DATETIME": ts.astype("datetime64[us]"),
            "TRANSACTION_AMOUNT": _money(rng, 1, 500, acct.size),
            "REVENUE_AMOUNT": _money(rng, 0, 25, acct.size),
        }
    )


# --- analytics lake -----------------------------------------------------------


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts_us(base: datetime.datetime, seconds: np.ndarray) -> pa.Array:
    vals = np.datetime64(base, "us") + (seconds * 1_000_000).astype("timedelta64[us]")
    return pa.array(vals, pa.timestamp("us"))


def analytics_lake(
    seed: int, out_dir: str, sf: float, only: tuple[str, ...] | None = None
) -> dict[str, int]:
    """Write the ten analytics tables (or the ``only`` ones) at scale
    ``sf`` (sf=0.01 gives 1,500 customers, 15,000 orders, 60,000
    lineitems, 500 documents and embeddings, 10,000 events). Returns row
    counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs, n_evt = int(50_000 * sf), int(1_000_000 * sf)
    counts = {}

    def put(name, cols):
        if only is not None and name not in only:
            return
        t = pa.table(cols)
        counts[name] = t.num_rows
        _write(out_dir, name, t)

    put(
        "region",
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    put(
        "nation",
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
    )
    rng = rng_for(seed, "customer")
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
                n_cust,
            ),
        },
    )
    rng = rng_for(seed, "supplier")
    put(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
    )
    rng = rng_for(seed, "part")
    adj = ["small", "red", "blue", "hot", "cold", "old", "new", "big"]
    noun = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "nut"]
    put(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{a} {b}" for a, b in zip(rng.choice(adj, n_part), rng.choice(noun, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        },
    )
    rng = rng_for(seed, "orders")
    day0 = datetime.datetime(1995, 1, 1)
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts_us(day0, rng.integers(0, 2404, n_ord) * 86400),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        },
    )
    rng = rng_for(seed, "lineitem")
    okey = np.sort(rng.integers(0, n_ord, n_line))
    # line numbers 1..k within each order
    first = np.r_[True, okey[1:] != okey[:-1]]
    idx = np.arange(n_line)
    start = np.maximum.accumulate(np.where(first, idx, 0))
    qty = rng.integers(1, 51, n_line).astype(float)
    flag = rng.integers(0, 6, n_line)
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(idx - start + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": np.array(["A", "N", "R"])[flag // 2],
            "l_linestatus": np.array(["O", "F"])[flag % 2],
            "l_shipdate": _ts_us(day0, rng.integers(1, 2500, n_line) * 86400),
        },
    )
    rng = rng_for(seed, "events")
    gaps = rng.exponential(30 * 86400 / n_evt, n_evt)
    secs = np.cumsum(gaps)
    ev_ts = np.datetime64(datetime.datetime(2024, 1, 1), "ns") + (
        np.round(secs * 1e6).astype(np.int64) * 1000
    ).astype("timedelta64[ns]")
    put(
        "events",
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            # nanosecond timestamps, like the testdata this registry
            # reads (catalog.load_table converts them)
            "ts": pa.array(ev_ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, max(n_evt // 66, 10), n_evt), pa.int64()),
            "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_evt),
            "value": np.round(rng.exponential(40, n_evt) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        },
    )
    rng = rng_for(seed, "documents")
    lens = rng.integers(8, 100, n_docs)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lens]
    # 5% planted near-duplicates (an earlier document plus one word), as
    # in the testdata, so the dedup entries find real pairs
    for d in rng.choice(np.arange(n_docs // 2, n_docs), n_docs // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, n_docs // 2))] + " dup"
    put(
        "documents",
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(["en", "en", "en", "zh", "de", "fr", "es"], n_docs),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    rng = rng_for(seed, "embeddings")
    labels = rng.integers(0, 10, n_docs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (n_docs, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put(
        "embeddings",
        {
            "vec_id": pa.array(np.arange(n_docs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        },
    )
    return counts
