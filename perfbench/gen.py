"""Seeded input generators for the benchmark.

Everything the program sees is made here from a seed: the fixture-shaped
tables (same names, columns and types as the parquet test fixtures in
FIXTURES.md) and the schedule-change log batches that the log stores are
built from.
The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
WORDS = (
    "a the key agg row scan slow fast table value part hash batch window "
    "spark order data column join small line customer query sort group "
    "filter stream merge big vector index cache plan shuffle task stage "
    "node disk page"
).split()


def _ts(rng: np.random.Generator, n: int, start: dt.datetime, days: float):
    """n sorted microsecond timestamps in [start, start + days)."""
    us = np.sort(rng.integers(0, int(days * 86400e6), n))
    base = np.datetime64(start, "us")
    return pa.array(base + us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng, n, lo: str, hi: str):
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    d = lo_d + rng.integers(0, int((hi_d - lo_d).astype(int)), n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def events_table(sf: float, seed: int) -> pa.Table:
    """``events``: 1M·sf rows over 15000·sf users, 30 days of 2024-01."""
    rng = np.random.default_rng([seed, 1])
    n, users = int(1_000_000 * sf), max(int(15_000 * sf), 1)
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(rng, n, EVENTS_START, EVENTS_DAYS),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(value),
        "props": pa.array(props),
    })


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def documents_table(sf: float, seed: int) -> pa.Table:
    """``documents``: word-salad texts; 10% are edited copies of an earlier
    document (near duplicates) and 1% exact copies, so the dedup queries
    have pairs to find."""
    rng = np.random.default_rng([seed, 2])
    n = max(int(50_000 * sf), 50)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.11:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(_text(rng, int(rng.integers(8, 90))))
    langs = _pick(rng, ("en", "zh", "de", "fr", "es"), n, p=(0.44, 0.15, 0.14, 0.13, 0.14))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": langs,
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(sf: float, seed: int) -> pa.Table:
    """``embeddings``: 64-d float vectors around ten label centroids."""
    rng = np.random.default_rng([seed, 3])
    n = max(int(20_000 * sf), 500)
    centroids = rng.normal(0.0, 0.1, (10, 64))
    label = rng.integers(0, 10, n)
    vecs = (centroids[label] + rng.normal(0.0, 0.08, (n, 64))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema with the fixture's columns and types."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    out = {
        "region": pa.table({
            "r_regionkey": i32(range(5)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }),
        "customer": pa.table({
            "c_custkey": i64(range(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": i64(range(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }),
        "part": pa.table({
            "p_partkey": i64(range(n_part)),
            "p_name": pa.array([
                f"{a} {b}" for a, b in zip(
                    _pick(rng, ("small", "red", "large", "blue", "green", "tiny"), n_part).to_pylist(),
                    _pick(rng, ("ring", "widget", "bolt", "gear", "panel"), n_part).to_pylist(),
                )
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, ("ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"), n_part),
            "p_size": i32(rng.integers(1, 51, n_part)),
            "p_retailprice": pa.array(np.round(900 + np.arange(n_part) % 20_000 * 0.1, 2)),
        }),
        "orders": pa.table({
            "o_orderkey": i64(range(n_ord)),
            "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(
                rng, ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
            ),
        }),
        "lineitem": pa.table({
            "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
            "l_partkey": i64(rng.integers(0, n_part, n_li)),
            "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
            "l_linenumber": i32(rng.integers(1, 8, n_li)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105_000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
    }
    return out


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``{name}.parquet`` for the ten fixture tables into ``out_dir``;
    returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {
        "events": lambda: events_table(sf, seed),
        "documents": lambda: documents_table(sf, seed),
        "embeddings": lambda: embeddings_table(sf, seed),
    }
    tpch = None
    rows = {}
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"):
        if name in makers:
            t = makers[name]()
        else:
            tpch = tpch or tpch_tables(sf, seed)
            t = tpch[name]
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows


# --- log-change payloads -------------------------------------------------

_ACTIONS = ("create", "reschedule", "cancel", "move", "resize", "accept", "decline")


def log_xml(rng: np.random.Generator, user_id: int, trigger: str, ts_ms: int,
            n_bytes: int, noisy: bool) -> str:
    """One LogChange-shaped schedule-change log of about ``n_bytes``.

    A ``noisy`` log carries a block of incompressible note text in its
    middle third, so chunks cut from that region zip worse than the whole
    document predicts and the byte-cap tiler must re-split them."""
    head = (
        f'<?xml version="1.0" encoding="utf-8"?>\n<ScheduleChangeLog UserId="{user_id}" '
        f'Trigger="{trigger}" JsTimeOfCreation="{ts_ms}">\n'
    )
    m = n_bytes // 150 + 2  # a <Change> line is about 170 bytes
    start = ts_ms + rng.integers(0, 86_400_000 * 14, m)
    end = start + rng.integers(1, 48, m) * 1_800_000
    cal = rng.integers(0, 2**40, m)
    act = rng.integers(0, len(_ACTIONS), m)
    w1, w2 = rng.integers(0, len(WORDS), m), rng.integers(0, len(WORDS), m)
    lines = [
        f'  <Change Index="{i}" CalendarEventId="{cal[i]:010x}" Action="{_ACTIONS[act[i]]}" '
        f'Start="{start[i]}" End="{end[i]}" Title="{WORDS[w1[i]]} {WORDS[w2[i]]}"/>\n'
        for i in range(m)
    ]
    if noisy:
        lo, hi = m // 3, 2 * m // 3
        noise = rng.integers(0, 2**63, (hi - lo, 10), dtype=np.int64)
        for j in range(hi - lo):
            lines[lo + j] = (
                f'  <Note Index="{lo + j}">' + "".join(f"{v:016x}" for v in noise[j]) + "</Note>\n"
            )
    body = "".join(lines)[: max(n_bytes - len(head), 0)]
    return head + body[: body.rfind("\n") + 1] + "</ScheduleChangeLog>\n"


def payload_sizes(rng: np.random.Generator, n: int, mean_bytes: float, sigma: float) -> np.ndarray:
    """Heavy-tailed (log-normal) payload sizes, stratified over quantiles so
    every batch has the same size histogram whatever the seed."""
    from statistics import NormalDist

    q = (np.arange(n) + 0.25 + 0.5 * rng.random(n)) / n
    z = np.array([NormalDist().inv_cdf(float(v)) for v in q])
    median = mean_bytes / np.exp(sigma**2 / 2)
    sizes = np.maximum(median * np.exp(sigma * z), 600).astype(np.int64)
    rng.shuffle(sizes)
    return sizes


#: payload sizes are log-normal with this sigma; this share of the logs
#: (rounded up, in every batch) carry an incompressible block (see log_xml)
SIZE_SIGMA, NOISY_SHARE = 1.3, 0.05


def log_batch(seed: int, batch: int, n_docs: int, users, mean_bytes: float) -> pa.Table:
    """One batch of ``n_docs`` LogChange rows with an XML ``payload``, each
    owned by a user drawn from ``users``."""
    rng = np.random.default_rng([seed, 10, batch])
    sizes = payload_sizes(rng, n_docs, mean_bytes, SIZE_SIGMA)
    base_ms = int(EVENTS_START.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    users = rng.choice(np.asarray(users, dtype=np.int64), n_docs)
    ts = base_ms + np.sort(rng.integers(0, EVENTS_DAYS * 86_400_000, n_docs))
    triggers = np.where(rng.random(n_docs) < 0.8, "schedulechange", "preview")
    # the noisy logs sit at fixed size ranks in the upper quarter, all large
    # enough to be split, so every batch needs the same re-split work
    # whatever the seed
    noisy = np.zeros(n_docs, dtype=bool)
    ranks = np.linspace(0.75, 0.95, int(np.ceil(NOISY_SHARE * n_docs)))
    noisy[np.argsort(sizes, kind="stable")[(ranks * n_docs).astype(int)]] = True
    ids, payloads = [], []
    for i in range(n_docs):
        ids.append(f"{users[i]}_{triggers[i]}_{seed:x}b{batch}d{i}_{ts[i]}")
        payloads.append(log_xml(rng, int(users[i]), str(triggers[i]), int(ts[i]),
                                int(sizes[i]), bool(noisy[i])))
    return pa.table({
        "id": pa.array(ids),
        "user_id": pa.array(users.astype(np.int64)),
        "trigger": pa.array(triggers.tolist()),
        "type_of_event": _pick(rng, EVENT_TYPES, n_docs),
        "js_time_of_creation": pa.array(ts.astype(np.int64)),
        "payload": pa.array(payloads),
    })


def md5_of(texts) -> list[str]:
    return [hashlib.md5(t.encode("utf-8")).hexdigest() for t in texts]


def size_histogram(sizes) -> dict[str, int]:
    """Payload-size histogram in power-of-two KiB buckets (``<=4KiB``, ...)."""
    hist: dict[str, int] = {}
    for s in sizes:
        kib = 4
        while s > kib * 1024:
            kib *= 2
        key = f"<={kib}KiB"
        hist[key] = hist.get(key, 0) + 1
    return dict(sorted(hist.items(), key=lambda kv: int(kv[0][2:-3])))
