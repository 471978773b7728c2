"""Output checks and pipeline-state readers, all outside Spark.

- :func:`compare_frames` — order-insensitive comparison of two result
  frames (exact for integers and strings, 1e-9 relative for floats).
- :func:`gold_mismatch` — gold KPI tables as written by the pipeline
  against the expected frames of :func:`perfbench.gen.expected_gold`.
- the ``*_rows`` / ``silver_partitions`` readers — counts from parquet
  footers and the directory layout, never a Spark job.
- :func:`file_cycles` / :func:`simulate_late` — which pipeline cycle
  ingested each landed file (from the streaming checkpoints' file-source
  logs), and the late-path release count that ingest order implies.
"""

from __future__ import annotations

import datetime as dt
import io
import json
import os

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

REL_TOL = 1e-9


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    total = 0
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                total += pq.ParquetFile(os.path.join(dirpath, f)).metadata.num_rows
    return total


def _canon(col: pd.Series) -> pd.Series:
    """One column in a comparable form: numbers as float64, timestamps
    and dates as epoch microseconds, everything else as its repr."""
    if pd.api.types.is_bool_dtype(col):
        return col.astype("float64")
    if pd.api.types.is_numeric_dtype(col):
        return col.astype("float64")
    if pd.api.types.is_datetime64_any_dtype(col):
        return col.dt.tz_localize(None).astype("datetime64[us]").astype("int64").astype(
            "float64").where(col.notna())
    sample = col.dropna()
    if len(sample) and isinstance(sample.iloc[0], (dt.date, pd.Timestamp)):
        return _canon(pd.to_datetime(col))
    if len(sample) and isinstance(sample.iloc[0], (int, float, np.generic)):
        return pd.to_numeric(col).astype("float64")
    if len(sample) and isinstance(sample.iloc[0], str):
        return col
    return col.map(lambda v: None if v is None else repr(v))


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal as multisets of rows (columns matched by name;
    floats within 1e-9 relative), else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(want.columns)
    frames = []
    for frame in (got, want):
        c = pd.DataFrame({k: _canon(frame[k].reset_index(drop=True)) for k in cols})
        # sort on rounded floats so 1-ulp differences cannot reorder rows
        keys = pd.DataFrame({k: c[k].round(6) if c[k].dtype == "float64" else c[k]
                             for k in cols})
        order = keys.sort_values(cols, na_position="first", kind="stable").index
        frames.append(c.loc[order].reset_index(drop=True))
    g, w = frames
    for k in cols:
        a, b = g[k], w[k]
        if a.dtype == "float64" and b.dtype == "float64":
            ok = np.isclose(a, b, rtol=REL_TOL, atol=1e-12, equal_nan=True)
        else:
            ok = (a.astype(object) == b.astype(object)).to_numpy() | (a.isna() & b.isna()).to_numpy()
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return f"column {k} row {i}: {a.iloc[i]!r} != {b.iloc[i]!r}"
    return None


def read_parquet_dir(path: str) -> pd.DataFrame | None:
    if not os.path.isdir(path):
        return None
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pandas()


def gold_mismatch(root: str, expected: tuple[pd.DataFrame, pd.DataFrame]) -> str | None:
    """None when both gold KPI tables equal the expected frames of
    :func:`perfbench.gen.expected_gold`, else a one-line reason."""
    for table, want in zip(("category_kpis", "order_kpis_daily"), expected):
        got = read_parquet_dir(os.path.join(root, "gold", table))
        if got is None:
            return f"{table}: missing"
        got = got.assign(order_date=got["order_date"].astype(str))
        reason = compare_frames(got[[c for c in got.columns if c in want.columns]],
                                want.reset_index(drop=True))
        if reason:
            return f"{table}: {reason}"
    return None


def quarantine_rows(root: str) -> int:
    return parquet_rows(os.path.join(root, "quarantine"))


def staging_rows(root: str) -> int:
    return sum(parquet_rows(os.path.join(root, "staging", t))
               for t in ("orders", "order_items"))


def silver_partitions(root: str) -> int:
    path = os.path.join(root, "silver", "enriched")
    if not os.path.isdir(path):
        return 0
    return sum(1 for d in os.listdir(path) if d.startswith("order_date="))


def late_rows(root: str) -> int:
    audit = read_parquet_dir(os.path.join(root, "gold", "late_audit"))
    return 0 if audit is None else int(audit["late_items_absorbed"].sum())


# ---------------------------------------------------------------------------
# which cycle ingested which file
# ---------------------------------------------------------------------------

TABLES = ("orders", "order_items", "products")


def committed_batches(root: str) -> dict[str, int]:
    """Highest committed micro-batch id per ingest stream (-1 if none)."""
    out = {}
    for t in TABLES:
        d = os.path.join(root, "_checkpoints", t, "commits")
        ids = [int(f) for f in os.listdir(d) if f.isdigit()] if os.path.isdir(d) else []
        out[t] = max(ids, default=-1)
    return out


def file_batches(root: str, table: str) -> dict[str, int]:
    """Landed file name → the micro-batch that read it, from the file
    source's metadata log (compacted and delta files alike)."""
    d = os.path.join(root, "_checkpoints", table, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        if f.startswith("."):
            continue
        with open(os.path.join(d, f)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def file_cycles(root: str, commits: list[dict[str, int]]) -> dict[tuple[str, str], int]:
    """(table, file name) → index of the first cycle whose committed
    batches cover it. ``commits`` holds committed_batches() taken after
    each cycle, in order."""
    out = {}
    for t in TABLES:
        for name, batch in file_batches(root, t).items():
            for c, cm in enumerate(commits):
                if cm[t] >= batch:
                    out[(t, name)] = c
                    break
    return out


def simulate_late(plan, names: dict[int, str], cycles: dict[tuple[str, str], int],
                  n_cycles: int) -> int:
    """Items the pipeline must release through its late path, given which
    cycle ingested each file: an item whose order group was released in
    an EARLIER cycle (the order left staging) and whose product has
    landed. ``names[k]`` is wave k's file name (k = -1: the history)."""
    from . import gen

    frames = {}
    for k, w in ([(-1, plan.history)] if plan.history else []) + list(enumerate(plan.waves)):
        for t, text in (("orders", w.orders), ("order_items", w.items),
                        ("products", w.products)):
            c = cycles.get((t, names[k]))
            if c is None:
                continue
            df = pd.read_csv(io.StringIO(text), dtype=str)
            if t == "orders":
                df = df[df["status"].isin(gen.FEED_STATUS.values())]
            elif t == "order_items":
                df = df[pd.to_numeric(df["sale_price"]) >= 0]
            frames.setdefault(c, []).append((t, df))
    s_orders: set[str] = set()
    s_items: dict[str, tuple[str, str]] = {}
    products: set[str] = set()
    silver_orders: set[str] = set()
    late = 0
    for c in range(n_cycles):
        for t, df in frames.get(c, []):
            if t == "orders":
                s_orders |= set(df["order_id"])
            elif t == "order_items":
                s_items.update(zip(df["id"], zip(df["order_id"], df["product_id"])))
            else:
                products |= set(df["id"])
        by_order: dict[str, list[str]] = {}
        for iid, (o, p) in s_items.items():
            by_order.setdefault(o, []).append(p)
        complete = {o for o in s_orders if o in by_order
                    and all(p in products for p in by_order[o])}
        late_ids = [iid for iid, (o, p) in s_items.items()
                    if o not in s_orders and o in silver_orders and p in products]
        late += len(late_ids)
        for iid in late_ids:
            del s_items[iid]
        s_items = {i: op for i, op in s_items.items() if op[0] not in complete}
        s_orders -= complete
        silver_orders |= complete
    return late
