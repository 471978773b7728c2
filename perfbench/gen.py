"""Seeded inputs for the benchmark, built without Spark.

Two products, both pure functions of ``(seed, sf)``:

- :func:`star_tables` — the star schema the catalog queries read
  (region nation customer supplier part orders lineitem events documents
  embeddings), with the column types and value domains of the engine's
  test data, written as one parquet file per table.
- :func:`plan_stream` — the e-commerce feed the medallion pipeline
  ingests (orders / order_items / products CSV), cut from the same star
  tables into a date-ordered history and a list of waves. The seed
  picks the history/trickle split, the items held back to the next
  wave (late data), the products that land one wave after their first
  item (pending groups) and where the poison rows go.

The expected gold tables are computed here too (:func:`expected_gold`),
from the feed itself with pandas, so the benchmark can check the
pipeline's output without asking Spark.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_DAY0 = dt.date(1995, 1, 1)
N_DAYS = (dt.date(2001, 8, 1) - EPOCH_DAY0).days + 1
P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "anvil", "widget", "gear", "spring", "valve"]
WORDS = (
    "a the data spark stream batch line column order small sort fast value "
    "scan hash slow group agg filter query key window row part table merge "
    "big join vector customer"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
# order status in the e-commerce feed, by TPC-H o_orderstatus
FEED_STATUS = {"O": "processing", "F": "delivered", "P": "pending"}


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """2-decimal money values (the engine's money contract)."""
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(EPOCH_DAY0, "D")
    return (base + rng.integers(0, N_DAYS, n)).astype("datetime64[us]")


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema at scale factor ``sf`` (sf0.1 ≈ 600k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(P_TYPES)[rng.integers(0, len(P_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    # each item picks its order uniformly (≈2% of orders get none), rows
    # in random order; ship dates run 1..2499 days past the first order date
    n_li = int(6_000_000 * sf)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": (np.datetime64(EPOCH_DAY0, "D")
                       + rng.integers(1, 2500, n_li)).astype("datetime64[us]"),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(10, int(15_000 * sf)), n_evt),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(k))])
        for k in rng.integers(10, 100, n_doc)
    ]
    # 5% near-duplicates: an earlier document with one word appended, so
    # the near-dup queries return a non-trivial result set
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[
            rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])
        ],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    # unit vectors uniform on the sphere; labels independent of them
    vecs = rng.normal(0, 1, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.field("element", pa.float32()))),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_star(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# streaming feed
# ---------------------------------------------------------------------------

ORDER_COLS = ["order_id", "user_id", "status", "created_at", "returned_at",
              "shipped_at", "delivered_at", "num_of_item"]
ITEM_COLS = ["id", "order_id", "user_id", "product_id", "status", "created_at",
             "shipped_at", "delivered_at", "returned_at", "sale_price"]
PRODUCT_COLS = ["id", "sku", "cost", "category", "name", "brand",
                "retail_price", "department"]


@dataclass
class Wave:
    """One landing: the CSV text of each table's file plus the facts the
    checks need. ``n_rows`` counts the data rows of all three files;
    ``needs_next`` marks a wave whose items wait for products that land
    with the following wave."""

    orders: str
    items: str
    products: str
    n_rows: int
    poison: int
    needs_next: bool = False


@dataclass
class StreamPlan:
    history: Wave | None
    waves: list[Wave]
    orders: pd.DataFrame  # every valid order row landed
    items: pd.DataFrame  # every valid item row landed
    products: pd.DataFrame  # every valid product row landed
    poison_rows: int = 0
    late_ids: set = field(default_factory=set)


def _feed_frames(
    tables: dict[str, pa.Table], rng: np.random.Generator, day0: int, span: int
):
    """The star tables' orders dated in ``[day0, day0 + span)`` mapped to
    the e-commerce feed: one order row per o_orderkey, one item row per
    (order, product) pair (lowest line number wins, the silver MERGE's
    key grain) and one product row per part. Timestamps are
    second-precision ISO strings."""
    odate = tables["orders"].column("o_orderdate").to_numpy()
    day = (odate - np.datetime64(EPOCH_DAY0, "us")).astype("timedelta64[D]").astype(int)
    in_span = (day >= day0) & (day < day0 + span)
    o = tables["orders"].filter(pa.array(in_span)).to_pandas()
    okey = tables["lineitem"].column("l_orderkey").to_numpy()
    li = tables["lineitem"].filter(pa.array(in_span[okey])).to_pandas()
    p = tables["part"].to_pandas()
    orders = pd.DataFrame({
        "order_id": o["o_orderkey"].astype(str),
        "user_id": o["o_custkey"].astype(str),
        "status": o["o_orderstatus"].map(FEED_STATUS),
        "created_at": _iso(
            o["o_orderdate"].to_numpy() + rng.integers(0, 86_400, len(o)).astype(
                "timedelta64[s]")
        ),
        "returned_at": None,
        "shipped_at": None,
        "delivered_at": None,
        "num_of_item": 1,
        "_day": day[in_span],
    })
    li = li.sort_values(["l_orderkey", "l_partkey", "l_linenumber"])
    li = li.drop_duplicates(["l_orderkey", "l_partkey"], keep="first")
    cust = tables["orders"].column("o_custkey").to_numpy()
    lkey = li["l_orderkey"].to_numpy()
    items = pd.DataFrame({
        "id": (li["l_orderkey"].astype(str) + "_" + li["l_partkey"].astype(str)
               + "_" + li["l_linenumber"].astype(str)),
        "order_id": li["l_orderkey"].astype(str),
        "user_id": cust[lkey].astype(str),
        "product_id": li["l_partkey"].astype(str),
        "status": "delivered",
        "created_at": "2024-03-01T10:00:00",
        "shipped_at": None,
        "delivered_at": None,
        "returned_at": np.where(
            li["l_returnflag"] == "R", _iso(li["l_shipdate"].to_numpy()), None
        ),
        "sale_price": li["l_extendedprice"].to_numpy(),
        "_day": day[lkey],
        "_order": lkey,
        "_pid": li["l_partkey"].to_numpy(),
    })
    products = pd.DataFrame({
        "id": p["p_partkey"].astype(str),
        "sku": "sku" + p["p_partkey"].astype(str),
        "cost": 1.0,
        "category": p["p_type"],
        "name": p["p_name"],
        "brand": p["p_brand"],
        "retail_price": p["p_retailprice"],
        "department": "dept",
    })
    return orders, items, products


def _iso(ts: np.ndarray) -> np.ndarray:
    """Second-precision ISO timestamps, the feed's CSV format."""
    return np.datetime_as_string(ts.astype("datetime64[s]")).astype(object)


def _csv(df: pd.DataFrame, cols: list[str]) -> str:
    return df[cols].to_csv(index=False, lineterminator="\n")


def week_orders(sf: float) -> int:
    """Orders in an average week of :func:`star_tables` at ``sf``."""
    return round(max(100, int(1_500_000 * sf)) * 7 / N_DAYS)


def plan_stream(
    seed: int,
    sf: float,
    history_days: int,
    wave_orders: int,
    n_waves: int,
    late_share: float = 0.0,
    late_product_share: float = 0.0,
    poison_per_wave: int = 0,
    tables: dict[str, pa.Table] | None = None,
) -> StreamPlan:
    """Cut the feed into a history (``history_days`` of orders, or None
    when 0) followed by ``n_waves`` waves of the next ``wave_orders``
    orders each, in date order (a fixed count, so waves of one size cost
    alike whatever the calendar holds). The seed picks where in the date
    range the history starts.

    Per wave: ``late_share`` of its items (of the history's too) are held
    back to the next wave (they arrive after their order group was
    released — the late path);
    ``late_product_share`` of the products first referenced in the wave
    land with the next wave instead (their groups wait in staging); and
    ``poison_per_wave`` rows that the quarantine gate must catch (half
    negative-price items, half orders with an unknown status). The last
    wave holds nothing back; it carries poison rows like the others."""
    if tables is None:
        tables = star_tables(seed, sf)
    rng = np.random.default_rng([seed, 2])
    n_orders = tables["orders"].num_rows
    # days that hold the waves' orders with room to spare
    wave_span = math.ceil(1.5 * n_waves * wave_orders * N_DAYS / n_orders) + 7
    span = history_days + wave_span
    if span > N_DAYS:
        raise ValueError(f"feed needs {span} days, the data has {N_DAYS}")
    day0 = int(rng.integers(0, N_DAYS - span + 1))
    orders, items, products = _feed_frames(tables, rng, day0, span)

    # -1 history; after it, orders in date order, ``wave_orders`` a wave;
    # orders past the last wave are not landed
    o_day = orders["_day"].to_numpy()
    o_key = orders["order_id"].astype(np.int64).to_numpy()
    rank = np.empty(len(orders), dtype=np.int64)
    rank[np.lexsort((o_key, o_day))] = np.arange(len(orders))
    n_hist = int((o_day < day0 + history_days).sum())
    o_slot = np.where(rank < n_hist, -1, (rank - n_hist) // wave_orders)
    if (o_slot == n_waves - 1).sum() < wave_orders:
        raise ValueError(f"too few orders after day {day0 + history_days}")
    slot_of = np.full(n_orders, n_waves, dtype=np.int64)
    slot_of[o_key] = o_slot
    keep_o, keep_i = o_slot < n_waves, slot_of[items["_order"].to_numpy()] < n_waves
    orders = orders[keep_o].reset_index(drop=True)
    items = items[keep_i].reset_index(drop=True)
    o_slot = o_slot[keep_o]
    i_slot = slot_of[items["_order"].to_numpy()]
    # late items: land one wave after their order (never from the last
    # wave, never the only item of their order — those would simply
    # complete their group one wave later rather than take the late path)
    i_land = i_slot.copy()
    iorder = items["_order"].to_numpy()
    can_hold = (
        (i_slot < n_waves - 1)
        & (np.bincount(iorder)[iorder] > 1)
    )
    held = can_hold & (rng.random(len(items)) < late_share)
    # keep at least one item of every order on time
    held_df = pd.DataFrame({"o": iorder, "h": held})
    all_held = held_df.groupby("o")["h"].transform("all").to_numpy()
    held &= ~all_held
    i_land[held] += 1

    # products land with the first wave (or history) that references them
    pid = items["_pid"].to_numpy()
    first = np.full(len(products), np.iinfo(np.int64).max)
    np.minimum.at(first, pid, i_slot)
    p_land = np.where(first == np.iinfo(np.int64).max, -2, first)
    late_p = (p_land >= 0) & (p_land < n_waves - 1) & (
        rng.random(len(products)) < late_product_share
    )
    p_land[late_p] += 1

    hist = None
    if history_days > 0:
        hist = Wave(
            orders=_csv(orders[o_slot == -1], ORDER_COLS),
            items=_csv(items[i_land == -1], ITEM_COLS),
            products=_csv(products[p_land == -1], PRODUCT_COLS),
            n_rows=int((o_slot == -1).sum() + (i_land == -1).sum()
                       + (p_land == -1).sum()),
            poison=0,
        )
    waves: list[Wave] = []
    poison_total = 0
    needs_next = np.zeros(n_waves, dtype=bool)
    dep = p_land[pid] > i_land  # item waits for a product landing later
    for k in np.unique(i_land[dep & (i_land >= 0)]):
        needs_next[k] = True
    for k in range(n_waves):
        o_k = orders[o_slot == k]
        i_k = items[i_land == k]
        p_k = products[p_land == k]
        n_poison = poison_per_wave
        n_bad_items = n_poison - n_poison // 2
        bad_items = i_k.head(0)
        bad_orders = o_k.head(0)
        if n_poison and len(i_k):
            bad_items = i_k.sample(n=n_bad_items, replace=True, random_state=int(
                rng.integers(0, 2**31))).copy()
            bad_items["id"] = [f"poison_{k}_{j}" for j in range(n_bad_items)]
            bad_items["sale_price"] = -999.0
            bad_orders = o_k.sample(n=n_poison // 2, replace=True, random_state=int(
                rng.integers(0, 2**31))).copy()
            bad_orders["order_id"] = [
                f"poison_o_{k}_{j}" for j in range(n_poison // 2)
            ]
            bad_orders["status"] = "unknown"
        poison = len(bad_items) + len(bad_orders)
        poison_total += poison
        # poison rows sit at seeded positions inside the file
        i_out = pd.concat([i_k, bad_items]).sample(frac=1.0, random_state=int(
            rng.integers(0, 2**31)))
        o_out = pd.concat([o_k, bad_orders]).sample(frac=1.0, random_state=int(
            rng.integers(0, 2**31)))
        waves.append(Wave(
            orders=_csv(o_out, ORDER_COLS),
            items=_csv(i_out, ITEM_COLS),
            products=_csv(p_k, PRODUCT_COLS),
            n_rows=len(o_out) + len(i_out) + len(p_k),
            poison=poison,
            needs_next=bool(needs_next[k]),
        ))
    return StreamPlan(
        history=hist,
        waves=waves,
        orders=orders.drop(columns="_day"),
        items=items.drop(columns=["_day", "_order", "_pid"]),
        products=products[p_land >= -1],
        poison_rows=poison_total,
        late_ids=set(items["id"][held]),
    )


def expected_gold(plan: StreamPlan) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The two gold KPI tables the pipeline must end at, computed from
    the landed feed with pandas: every valid item whose order and
    product landed, enriched and aggregated exactly as the engine's
    KPI definitions say (money in integer cents, item-level returns,
    distinct orders and customers per day)."""
    e = plan.items.merge(
        plan.orders[["order_id", "user_id", "created_at"]].rename(
            columns={"user_id": "o_user"}),
        on="order_id",
    ).merge(plan.products[["id", "category"]].rename(columns={"id": "product_id"}),
            on="product_id")
    e["order_date"] = e["created_at_y"].str.slice(0, 10)
    e["cents"] = np.round(e["sale_price"].to_numpy() * 100).astype(np.int64)
    e["ret"] = e["returned_at"].notna().astype(np.int64)
    cat = e.groupby(["category", "order_date"]).agg(
        cents=("cents", "sum"), n=("cents", "size"), ret=("ret", "sum")
    ).reset_index()
    cat["daily_revenue"] = cat["cents"] / 100.0
    cat["avg_order_value"] = cat["daily_revenue"] / cat["n"]
    cat["avg_return_rate"] = cat["ret"] / cat["n"]
    daily = e.groupby("order_date").agg(
        total_orders=("order_id", "nunique"),
        cents=("cents", "sum"),
        total_items_sold=("cents", "size"),
        ret=("ret", "sum"),
        unique_customers=("o_user", "nunique"),
    ).reset_index()
    daily["total_revenue"] = daily["cents"] / 100.0
    daily["return_rate"] = daily["ret"] / daily["total_orders"]
    return (
        cat[["category", "order_date", "daily_revenue", "avg_order_value",
             "avg_return_rate"]],
        daily[["order_date", "total_orders", "total_revenue",
               "total_items_sold", "return_rate", "unique_customers"]],
    )
