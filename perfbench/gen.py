"""Seeded input generator for the benchmark.

Every input is drawn from ``--seed`` alone. A run may read only its
own checkout, so it cannot open the repository's sf0.1 fixture set
(TESTDATA.md: synthetic tables generated with seed 42). The fixture
is itself drawn from independent uniform, Poisson and exponential
distributions, so this module draws rows from those same
distributions, measured on the fixture and cited below. That is a
seeded resample of the fixture's rows at a smaller row count; nothing
that drives cost is narrowed to make a run smaller.

Measured on sf0.1 (150,000 orders, 600,000 line items, 100,000 events):

- orders span every one of the 2,405 days from 1995-01-01 to
  2001-08-01 (``ORDER_DAYS``). The engine's day-partitioned sinks write
  one directory per order day, so their file count scales with this
  span, not with the row count;
- ``l_orderkey`` is uniform over the orders, four lines per order on
  average (``LINES_PER_ORDER``): lines per order are Poisson(4), so
  1.8% of orders have no line, as e^-4 predicts (2,764 of 150,000);
- the row ratios are customers = orders / 10, parts = orders / 7.5,
  suppliers = orders / 150, and events per user = 66.7
  (100,000 events, 1,500 users);
- every other column is uniform over its range (``c_acctbal``,
  ``o_totalprice``, ``l_quantity`` 1-50, ``l_discount`` 0-0.10,
  ``l_tax`` 0-0.08, ``l_linenumber`` 1-7, ``l_shipdate`` independent of
  the order date, categorical columns), and
  ``l_extendedprice = l_quantity * p_retailprice`` exactly;
- events cover 30 days at 3,333 a day, five event types equally often,
  ``value`` exponential with mean 50. Their timestamps never decrease
  with ``event_id``: the fixture has no late events.

So the stream's epoch sizes are one day of the fixture's traffic:
3,333 events (``EVENTS_PER_DAY``) and 62 orders (``ORDERS_PER_DAY``,
150,000 / 2,405) a day. Three properties are the benchmark's own, not
measured, because the fixture has no stream and no query log:

- ``LATE_SHARE`` — the share of stream events whose timestamp falls
  one to three days before their epoch, so they land their partials
  in an older rollup bucket. The fixture's share is 0; a stream
  workload needs late events, and 15% is an assumption.
- ``REDELIVERY_SHARE`` — the share of stream epochs delivered a
  second time under the same epoch id (at-least-once delivery); the
  second delivery must be a no-op. One epoch in five is an
  assumption.
- ``QUERY_ZIPF_S`` — the Zipf exponent of the dashboard query mix, so
  a few queries repeat often, as dashboard traffic does. 1.2 is an
  assumption.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = (dt.date(2001, 8, 1) - ORDER_DAY0).days + 1  # 2405 days
SHIP_DAYS = (dt.date(2001, 11, 4) - ORDER_DAY0).days  # ship dates 1995-01-02 .. 2001-11-04
LINES_PER_ORDER = 4
EVENTS_PER_USER = 100_000 / 1_500
EVENT_DAYS = 30
EVENTS_PER_DAY = 100_000 // EVENT_DAYS
ORDERS_PER_DAY = 150_000 // ORDER_DAYS
LATE_SHARE = 0.15
REDELIVERY_SHARE = 0.2
QUERY_ZIPF_S = 1.2

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
P_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ORDER_STATUS = ["F", "O", "P"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_T0_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
DAY_US = 86_400 * 1_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _micros(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def retail_price(partkey: np.ndarray) -> np.ndarray:
    return (90000 + partkey % 1000 * 10) / 100.0


def star_schema(out_dir: str, seed: int, n_orders: int, n_events: int = 0) -> dict[str, int]:
    """Write region, nation, customer, supplier, part, orders, lineitem
    and, if ``n_events``, an events table, in the fixture's ratios and
    distributions. Returns the row count of each table written."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 10)
    n_part = max(n_orders * 2 // 15, 100)
    n_lines = n_orders * LINES_PER_ORDER

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))

    r = _rng(seed, 1)
    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    }))
    r = _rng(seed, 2)
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp),
    }))
    r = _rng(seed, 3)
    pk = np.arange(n_part)
    retail = retail_price(pk)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": np.array(P_TYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }))

    r = _rng(seed, 4)
    day0_us = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    # every order day of the span carries at least one order, as in the
    # fixture; the rest are drawn uniformly over the span
    days = np.concatenate([np.arange(min(ORDER_DAYS, n_orders)), r.integers(0, ORDER_DAYS, max(n_orders - ORDER_DAYS, 0))])
    r.shuffle(days)
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(ORDER_STATUS)[r.integers(0, 3, n_orders)],
        "o_totalprice": _cents(r, 1000.0, 500000.0, n_orders),
        "o_orderdate": _micros(day0_us + days * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_orders)],
    }))

    r = _rng(seed, 5)
    l_part = r.integers(0, n_part, n_lines)
    qty = r.integers(1, 51, n_lines).astype(float)
    _write(out_dir, "lineitem", pa.table({
        # uniform over the orders, as in the fixture: Poisson(4) lines per order
        "l_orderkey": pa.array(r.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_lines), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * 100) / 100.0,
        "l_discount": r.integers(0, 11, n_lines) / 100.0,
        "l_tax": r.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[r.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_lines)],
        "l_shipdate": _micros(day0_us + (1 + r.integers(0, SHIP_DAYS, n_lines)) * DAY_US),
    }))
    counts = {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
              "part": n_part, "orders": n_orders, "lineitem": n_lines}
    if n_events:
        r = _rng(seed, 6)
        n_users = max(round(n_events / EVENTS_PER_USER), 20)
        _write(out_dir, "events", pa.table({
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            # in time order, over the fixture's 30 days
            "ts": _micros(EVENT_T0_US + np.sort(r.integers(0, EVENT_DAYS * DAY_US, n_events))),
            "user_id": pa.array(r.integers(0, n_users, n_events), pa.int64()),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n_events)],
            "value": np.round(r.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
        }))
        counts["events"] = n_events
    return counts


class EpochStream:
    """The webhook traffic of ``stream_ingest``. Epoch ``e`` is day
    ``e`` of traffic at the fixture's daily rates: ``n_orders`` pedido
    payloads, built from orders and their lines the way the engine's
    ``sources.json_ingest.synthesize_pedido_json`` builds them, and
    ``n_events`` click events. ``LATE_SHARE`` of an epoch's events carry
    a timestamp one to three days older than the epoch's day."""

    SCHEMA_DDL = (
        "epoch LONG, kind STRING, payload STRING, event_id LONG, ts_us LONG, "
        "user_id LONG, event_type STRING, value DOUBLE"
    )

    N_USERS = 1_500  # the fixture's users and parts
    N_PARTS = 20_000

    def __init__(self, seed: int, n_orders: int, n_events: int):
        self.seed, self.n_orders, self.n_events = seed, n_orders, n_events

    @staticmethod
    def schedule(n_epochs: int) -> list[tuple[int, bool]]:
        """``(epoch id, is redelivery)`` in delivery order: every
        ``1 / REDELIVERY_SHARE``-th epoch is delivered twice in a row. The
        positions are the same for every seed."""
        every = round(1 / REDELIVERY_SHARE)
        out: list[tuple[int, bool]] = []
        for e in range(n_epochs):
            out.append((e, False))
            if e % every == every - 1:
                out.append((e, True))
        return out

    def records(self, cycle: int, epoch: int) -> list[dict]:
        r = _rng(self.seed, 1000 + cycle * 100_000 + epoch)
        day_us = EVENT_T0_US + 3 * DAY_US + epoch * DAY_US
        ts = day_us + r.integers(0, DAY_US, self.n_events)
        late = r.random(self.n_events) < LATE_SHARE
        ts[late] -= r.integers(1, 4, int(late.sum())) * DAY_US
        recs = [
            {"epoch": epoch, "kind": "event", "event_id": epoch * 1_000_000 + i, "ts_us": int(t),
             "user_id": int(u), "event_type": EVENT_TYPES[k], "value": float(v)}
            for i, (t, u, k, v) in enumerate(zip(
                ts, r.integers(0, self.N_USERS, self.n_events),
                r.integers(0, len(EVENT_TYPES), self.n_events),
                np.round(r.exponential(50.0, self.n_events), 2)))
        ]
        # an order without lines has no pedido (the engine's synthesis
        # is an inner join), so every pedido carries at least one item
        n_items = np.maximum(1, r.poisson(LINES_PER_ORDER, self.n_orders))
        for j, n in enumerate(n_items):
            parts = r.integers(0, self.N_PARTS, n)
            qty = r.integers(1, 51, n).astype(float)
            itens = [{"linha": int(ln), "idProduto": int(p), "valor": float(np.round(q * retail_price(p) * 100) / 100.0),
                      "quantidade": float(q)}
                     for ln, p, q in sorted(zip(r.integers(1, 8, n), parts, qty))]
            doc = {"numero": epoch * 1_000_000 + j, "situacao": ORDER_STATUS[int(r.integers(0, 3))], "itens": itens}
            recs.append({"epoch": epoch, "kind": "pedido", "payload": json.dumps(doc)})
        return recs


def query_mix(ranked: list[str], cycle_len: int) -> list[str]:
    """A cycle of about ``cycle_len`` dashboard queries with Zipf
    (``QUERY_ZIPF_S``) repeat counts over ``ranked`` (most popular
    first), every query at least once. The mix is the same for every
    seed; the seed only orders it (``query_order``)."""
    w = 1.0 / np.arange(1, len(ranked) + 1) ** QUERY_ZIPF_S
    counts = np.maximum(1, np.round(w / w.sum() * cycle_len)).astype(int)
    return [q for q, c in zip(ranked, counts) for _ in range(c)]


def query_order(seed: int, cycle: int, mix: list[str]) -> list[str]:
    r = _rng(seed, 10_000 + cycle)
    return [mix[j] for j in r.permutation(len(mix))]
