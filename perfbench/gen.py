"""Seeded, deterministic inputs for every benchmark workload.

Everything the program under test sees is made here from one integer
seed: the trade/order store contents, the scan request streams, the
ingest event segments and the registry's TPC-H-shaped tables. The shapes
follow FIXTURES.md §1-2: trades tie on time across securities (times are
whole seconds), every order sits at its trade's time + 500 ms, about half
of the orders carry a NULL ``deal``, security popularity is Zipf, and the
ingest stream spans several trading days.

No record of real request traffic exists to weight the inputs by, so
where a shape has a free parameter the plainest choice is taken: Zipf
with exponent 1 (ZIPF_S), and every kind of scan_point operation equally
likely (POINT_OPS).

Only numpy and pyarrow are imported, so the load-generator process can
use this module without starting Spark.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from collections import defaultdict
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

MARKETS = ("RTS", "FORTS")
FIRST_DAY = dt.datetime(2013, 2, 4)
SESSION = (10 * 3600, 18 * 3600 + 45 * 60)  # trading hours, s after midnight
PRICE = pa.decimal128(18, 8)
TS = pa.timestamp("us", tz="UTC")

# independent random streams per input family: changing one family's
# generator never shifts another family's numbers
_STORE, _POINT, _INGEST, _TABLES = range(4)

ZIPF_S = 1.0  # security popularity exponent, for the store, the scans and the ingest
# scan_point operation kinds, drawn with equal probability
POINT_OPS = ("count", "cursor", "trades", "orders", "fetch_arrow")


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def decimal(cents: np.ndarray) -> pa.Array:
    """Whole cents as DECIMAL(18,8), built from the unscaled int128
    words directly (no Python Decimal per row)."""
    unscaled = np.asarray(cents, np.int64) * 1_000_000
    words = np.empty(2 * len(unscaled), np.int64)
    words[0::2] = unscaled
    words[1::2] = np.where(unscaled < 0, -1, 0)
    return pa.Array.from_buffers(
        PRICE, len(unscaled), [None, pa.py_buffer(words.tobytes())]
    )


def _datetime_us(t: dt.datetime) -> int:
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


def iso(us: int) -> str:
    """Epoch micros as the ISO string the server and the JSON reader parse."""
    t = dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=int(us))
    return t.isoformat(sep=" ", timespec="milliseconds")


# ---------------------------------------------------------------- store


@dataclass(frozen=True)
class StoreSpec:
    n_securities: int = 500  # split evenly over MARKETS
    n_days: int = 5
    n_trades: int = 40_000  # and as many orders
    zipf_s: float = ZIPF_S
    dup_share: float = 0.01  # rows re-sent in the append input


@dataclass
class Store:
    """Generated store contents: one row per unique event, trade ids
    ascending with time."""

    trades: pa.Table
    orders: pa.Table
    duplicates: np.ndarray  # row indices appended a second time


def securities(spec: StoreSpec) -> list[tuple[str, str]]:
    per = spec.n_securities // len(MARKETS)
    return [
        (m, f"{m}-{i // 12 + 1}.{i % 12 + 1:02d}")
        for m in MARKETS
        for i in range(per)
    ]


def popularity(g: np.random.Generator, n: int, s: float) -> np.ndarray:
    """Zipf weights over ``n`` items, in a seed-dependent rank order."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return (w / w.sum())[g.permutation(n)]


def digest(ids) -> str:
    """Order-sensitive checksum of a result's event ids."""
    return hashlib.blake2b(
        np.asarray(ids, dtype="<i8").tobytes(), digest_size=8
    ).hexdigest()


def epoch_us(text: str) -> int:
    """Inverse of ``iso`` (UTC wall-clock string to epoch micros)."""
    return int(np.datetime64(text.replace(" ", "T").rstrip("Z"), "us").astype(np.int64))


def make_store(seed: int, spec: StoreSpec = StoreSpec()) -> Store:
    g = rng(seed, _STORE)
    secs = securities(spec)
    weights = popularity(g, len(secs), spec.zipf_s)
    n = spec.n_trades
    which = g.choice(len(secs), size=n, p=weights)
    day = g.integers(0, spec.n_days, size=n)
    second = g.integers(SESSION[0], SESSION[1], size=n)
    t_us = _datetime_us(FIRST_DAY) + (day * 86400 + second) * 1_000_000
    order = np.lexsort((which, t_us))
    which, t_us = which[order], t_us[order]
    names = np.array([s for _, s in secs], dtype=object)
    mkts = np.array([m for m, _ in secs], dtype=object)
    ids = np.arange(1, n + 1, dtype=np.int64)
    base = 50 + 250 * g.random(len(secs))
    cents = np.maximum(
        np.round(base[which] * 100 * (1 + 0.02 * g.standard_normal(n))), 1
    ).astype(np.int64)
    market = pa.array(mkts[which], pa.string())
    security = pa.array(names[which], pa.string())
    trades = pa.table(
        {
            "market": market,
            "security": security,
            "trade_id": ids,
            "price": decimal(cents),
            "amount": g.integers(1, 101, size=n, dtype=np.int32),
            "time": pa.array(t_us, TS),
            "nosystem": g.random(n) < 0.05,
        }
    )
    has_deal = g.random(n) < 0.5
    amount = g.integers(1, 101, size=n, dtype=np.int32)
    deal = pa.StructArray.from_arrays(
        [pa.array(ids + 2 * n), decimal(cents + g.integers(-5, 6, size=n))],
        names=["id", "price"],
        mask=pa.array(~has_deal),
    )
    orders = pa.table(
        {
            "market": market,
            "security": security,
            "order_id": ids + n,
            "time": pa.array(t_us + 500_000, TS),
            "status": g.integers(0, 4, size=n, dtype=np.int32),
            "action": g.integers(0, 3, size=n).astype(np.int16),
            "dir": np.where(g.random(n) < 0.5, 1, -1).astype(np.int16),
            "price": decimal(cents),
            "amount": amount,
            "amount_rest": (amount * g.random(n)).astype(np.int32),
            "deal": deal,
        }
    )
    dups = np.sort(g.choice(n, size=int(n * spec.dup_share), replace=False))
    return Store(trades, orders, dups)


def with_duplicates(table: pa.Table, dups: np.ndarray) -> pa.Table:
    """The append input: every row once, plus re-delivered copies."""
    return pa.concat_tables([table, table.take(pa.array(dups))])


# ---------------------------------------------------------------- requests

PAGE = 100  # rows per cursor ``next``


def _intervals(g: np.random.Generator, spec: StoreSpec, n: int, min_s: int, max_s: int):
    """``n`` random [start, end] pairs, each inside one trading day, of
    log-uniform length in [min_s, max_s] seconds."""
    length = np.exp(g.uniform(np.log(min_s), np.log(max_s), size=n)).astype(np.int64)
    day = g.integers(0, spec.n_days, size=n)
    start = SESSION[0] + (g.random(n) * (SESSION[1] - SESSION[0] - length)).astype(np.int64)
    lo = _datetime_us(FIRST_DAY) + (day * 86400 + start) * 1_000_000
    return [[iso(a), iso(a + b * 1_000_000)] for a, b in zip(lo, length)]


def point_requests(
    seed: int, client: int, n: int, spec: StoreSpec = StoreSpec()
) -> list[dict]:
    """One scan_point client's request stream over Zipf-popular
    securities. Each item is one logical operation, each of POINT_OPS
    equally likely: a ``count``, a cursor (``open`` then ``next`` pages
    until exhausted) or a one-shot ``trades``/``orders`` scan over a
    1 min-1 h interval inside one day, or a ``fetch_arrow`` (the Arrow
    bulk lane) over one whole trading day. About 1 in 50 cursors is
    abandoned after its first page."""
    g = rng(seed, _POINT * 1000 + client)
    secs = securities(spec)
    weights = popularity(rng(seed, _STORE), len(secs), spec.zipf_s)
    which = g.choice(len(secs), size=n, p=weights)
    ops = g.choice(POINT_OPS, size=n)
    kinds = g.choice(["trades", "orders"], size=n)
    abandon = g.random(n) < 0.02
    day = g.integers(0, spec.n_days, size=n)
    out = []
    for i, interval in enumerate(_intervals(g, spec, n, 60, 3600)):
        op = str(ops[i])
        market, security = secs[int(which[i])]
        if op == "fetch_arrow":
            lo = _datetime_us(FIRST_DAY) + int(day[i]) * 86400 * 1_000_000
            interval = [iso(lo), iso(lo + 86400 * 1_000_000 - 1_000)]
        req = {
            "op": op,
            "kind": op if op in ("trades", "orders") else str(kinds[i]),
            "market": market,
            "security": security,
            "interval": interval,
        }
        if op == "cursor":
            req["abandon"] = bool(abandon[i])
        out.append(req)
    return out


# ---------------------------------------------------------------- ingest


@dataclass(frozen=True)
class IngestSpec:
    segment_events: int = 500  # the reference loader's flush batch
    segment_span_s: int = 2 * 3600  # trading time one segment covers
    malformed_share: float = 0.02
    redelivered_share: float = 0.05
    n_securities: int = 500


def ingest_segment(seed: int, k: int, spec: IngestSpec = IngestSpec()) -> list[dict]:
    """Segment ``k`` of the ingest stream: trade events in time order,
    with injected malformed events (rejected by validation) and
    redelivered copies of valid events from the same segment. The
    event times of segment k follow those of segment k-1 (trading hours
    only), so a long run spans several days and no event is late for
    the ingest watermark. Every event carries ``seq`` (its position)
    and ``bad`` (1 for an injected malformed event) for the checker;
    the JSON reader ignores both."""
    g = rng(seed, _INGEST * 1_000_000 + k)
    secs = securities(StoreSpec(n_securities=spec.n_securities))
    weights = popularity(rng(seed, _INGEST), len(secs), ZIPF_S)
    session = SESSION[1] - SESSION[0]
    n_fresh = spec.segment_events - int(spec.segment_events * spec.redelivered_share)
    offs = np.sort(g.integers(0, spec.segment_span_s, size=n_fresh))
    trading_s = k * spec.segment_span_s + offs
    day, in_day = trading_s // session, trading_s % session
    t_us = _datetime_us(FIRST_DAY) + (day * 86400 + SESSION[0] + in_day) * 1_000_000
    which = g.choice(len(secs), size=n_fresh, p=weights)
    bad = g.random(n_fresh) < spec.malformed_share
    kind = g.integers(0, 3, size=n_fresh)
    events = []
    for i in range(n_fresh):
        market, security = secs[int(which[i])]
        ev = {
            "market": market,
            "security": security,
            "trade_id": int(k * 1_000_000 + i + 1),
            "price": round(float(50 + g.integers(0, 25_000) / 100), 2),
            "amount": int(g.integers(1, 101)),
            "time": iso(int(t_us[i])).replace(" ", "T") + "Z",
            "nosystem": bool(g.random() < 0.05),
            "bad": 0,
        }
        if bad[i]:
            ev["bad"] = 1
            if kind[i] == 0:
                ev["price"] = -ev["price"]
            elif kind[i] == 1:
                ev["amount"] = 0
            else:
                ev["security"] = ""
        events.append(ev)
    valid = [i for i in range(n_fresh) if not bad[i]]
    n_dup = spec.segment_events - n_fresh
    after = defaultdict(list)  # position -> copies re-sent right after it
    for j in g.choice(len(valid), size=n_dup, replace=False):
        i = valid[int(j)]
        after[int(g.integers(i, n_fresh))].append(dict(events[i]))
    out = []
    for i, ev in enumerate(events):
        out.append(ev)
        out.extend(after[i])
    for seq, ev in enumerate(out):
        ev["seq"] = seq
    return out


def segment_lines(events: list[dict], stamp_us: int) -> str:
    """ndjson lines for one segment, each stamped with its creation time.
    The checker's labels (``bad``, ``seq``) stay out of the program's input."""
    return "".join(
        json.dumps({k: v for k, v in e.items() if k not in ("bad", "seq")} | {"created_us": stamp_us})
        + "\n"
        for e in events
    )


# ---------------------------------------------------------------- registry


def registry_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """TPC-H-shaped tables (plus ``events``, ``documents`` and
    ``embeddings``) with the
    column names, types and value domains the registered queries and
    their DuckDB oracles expect. ``scale`` 1.0 gives 12,000 lineitems."""
    g = rng(seed, _TABLES)
    n_cust, n_supp, n_part = int(300 * scale), 20, int(400 * scale)
    n_ord, n_line = int(3000 * scale), int(12000 * scale)
    n_events, n_docs = int(2000 * scale), int(300 * scale)

    def day_ts(lo: str, n: int) -> pa.Array:
        base = np.datetime64(lo, "us")
        days = g.integers(0, 6 * 365, size=n).astype("timedelta64[D]")
        return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(g.uniform(lo, hi, size=n), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    adjectives = ["blue", "hot", "small", "old", "red", "new", "cold", "big"]
    nouns = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "nut"]
    words = (
        "the a fast slow key order sort table scan merge part window small big "
        "hash join batch stream spark value row column filter group query data "
        "line customer vector agg dup"
    ).split()

    def text(n_words: int) -> str:
        return " ".join(words[int(i)] for i in g.integers(0, len(words), n_words))

    docs = []
    for i in range(n_docs):
        if docs and g.random() < 0.3:  # near-duplicate of an earlier doc
            toks = docs[int(g.integers(0, len(docs)))].split()
            toks[int(g.integers(0, len(toks)))] = words[int(g.integers(0, len(words)))]
            docs.append(" ".join(toks))
        else:
            docs.append(text(int(g.integers(8, 80))))
    ev_ts = np.datetime64("2024-01-01", "us") + g.integers(
        0, 30 * 86400 * 1_000_000, size=n_events
    ).astype("timedelta64[us]")
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": g.integers(0, 25, n_cust, dtype=np.int32),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": g.choice(
                    ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
                    n_cust,
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": g.integers(0, 25, n_supp, dtype=np.int32),
                "s_acctbal": money(-999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{adjectives[int(a)]} {nouns[int(b)]}"
                    for a, b in zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{int(b)}" for b in g.integers(1, 26, n_part)],
                "p_type": g.choice(
                    ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part
                ),
                "p_size": g.integers(1, 51, n_part, dtype=np.int32),
                "p_retailprice": np.round(900 + np.arange(n_part) % 1000 * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": g.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": g.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(1000, 500000, n_ord),
                "o_orderdate": day_ts("1995-01-01", n_ord),
                "o_orderpriority": g.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": g.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": g.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": g.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": g.integers(1, 8, n_line, dtype=np.int32),
                "l_quantity": g.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": money(900, 105000, n_line),
                "l_discount": g.integers(0, 11, n_line) / 100.0,
                "l_tax": g.integers(0, 9, n_line) / 100.0,
                "l_returnflag": g.choice(["A", "N", "R"], n_line),
                "l_linestatus": g.choice(["O", "F"], n_line),
                "l_shipdate": day_ts("1995-01-02", n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_events, dtype=np.int64),
                "ts": pa.array(np.sort(ev_ts), pa.timestamp("us")),
                "user_id": g.integers(0, 150, n_events).astype(np.int64),
                "event_type": g.choice(
                    ["click", "signup", "error", "view", "purchase"], n_events
                ),
                "value": money(0.01, 490.0, n_events),
                "props": [f'{{"k": {int(k)}}}' for k in g.integers(0, 100, n_events)],
            }
        ),
        "embeddings": pa.table(
            {
                "vec_id": np.arange(n_docs, dtype=np.int64),
                "embedding": pa.array(
                    list(g.standard_normal((n_docs, 64)).astype(np.float32) * 0.1),
                    pa.list_(pa.float32()),
                ),
                "label": g.integers(0, 10, n_docs, dtype=np.int32),
            }
        ),
        "documents": pa.table(
            {
                "doc_id": np.arange(n_docs, dtype=np.int64),
                "text": docs,
                "lang": g.choice(["en", "zh", "de", "fr", "es"], n_docs),
                "source": [f"src{int(s)}" for s in g.integers(0, 20, n_docs)],
                "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
            }
        ),
    }
