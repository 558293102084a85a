"""Seeded inputs of the benchmark.

`write_tables` writes the engine's ten input tables (TPC-H-ish star
schema plus `events`, `documents` and `embeddings`) with the columns,
types and value domains of the engine's reference datasets, at scale
factor `sf` (sf 0.1 = 100k events, 600k lineitems), one
`<name>.parquet/part-0.parquet` file each. `write_arrivals` cuts an
events table into a bulk base and seeded arrival slices for the
medallion workload. The same seed gives the same files; another seed
changes values, slice cuts and empty ticks, not sizes or distributions.
"""
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
DAY_US = 86400 * 1_000_000
EVENTS_T0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00
EVENT_DAYS = 30


def _n(base, sf):
    return max(1, round(base * sf))


def _ts_days(day0, days):
    return (np.datetime64(day0, "us") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(seed, sf, names=None):
    """The named tables (default: all ten) as pyarrow Tables, by name.
    Each table draws from its own seeded stream, so a table's values do
    not depend on which other tables are built."""
    n_cust, n_supp, n_part = _n(150000, sf), _n(10000, sf), _n(200000, sf)
    n_ord, n_li, n_ev = _n(1500000, sf), _n(6000000, sf), _n(1000000, sf)
    n_users, n_docs, n_emb = _n(15000, sf), _n(50000, sf), _n(20000, sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def region(rng):
        return pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})

    def nation(rng):
        return pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    def customer(rng):
        return pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.81, n_cust), 2), f64),
            "c_mktsegment": pa.array(_pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                                 "BUILDING", "FURNITURE"], n_cust), s)})

    def supplier(rng):
        return pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.81, n_supp), 2), f64)})

    def part(rng):
        adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
        noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
        return pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                _pick(rng, adj, n_part), _pick(rng, noun, n_part))], s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(_pick(rng, ["LARGE", "ECONOMY", "STANDARD", "SMALL",
                                           "MEDIUM", "PROMO"], n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), f64)})

    def orders(rng):
        return pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(_pick(rng, ["O", "P", "F"], n_ord), s),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2), f64),
            "o_orderdate": pa.array(_ts_days("1995-01-01", rng.integers(0, 2404, n_ord)), ts),
            "o_orderpriority": pa.array(_pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                    "4-NOT SPECIFIED", "5-LOW"], n_ord), s)})

    def lineitem(rng):
        return pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.68, 104999.91, n_li), 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array(_pick(rng, ["N", "A", "R"], n_li), s),
            "l_linestatus": pa.array(_pick(rng, ["O", "F"], n_li), s),
            "l_shipdate": pa.array(_ts_days("1995-01-02", rng.integers(0, 2498, n_li)), ts)})

    def events(rng):
        # ts strictly increasing in event_id over 30 days (no ties)
        step = EVENT_DAYS * DAY_US // n_ev
        ev_ts = EVENTS_T0_US + np.arange(n_ev) * step + rng.integers(0, step - 1, n_ev)
        return pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(ev_ts.astype("datetime64[us]"), ts),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
            "event_type": pa.array(_pick(rng, ["signup", "click", "error", "view",
                                               "purchase"], n_ev), s),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)})

    def documents(rng):
        # 10-100 words over a 30-word vocabulary; 5% repeat an earlier
        # document's text with a trailing " dup" (near-duplicates)
        texts = []
        for i in range(n_docs):
            if i > 0 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
            else:
                texts.append(" ".join(_pick(rng, VOCAB, int(rng.integers(10, 101)))))
        langs = np.where(rng.random(n_docs) < 0.41, "en",
                         _pick(rng, ["es", "zh", "de", "fr"], n_docs))
        return pa.table({
            "doc_id": pa.array(np.arange(n_docs), i64),
            "text": pa.array(texts, s),
            "lang": pa.array(langs.astype(object), s),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
            "n_chars": pa.array([len(x) for x in texts], i64)})

    def embeddings(rng):
        # 64-dim unit vectors around one of 10 label centroids
        labels = rng.integers(0, 10, n_emb)
        centroids = rng.standard_normal((10, 64))
        raw = centroids[labels] + 0.6 * rng.standard_normal((n_emb, 64))
        unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(unit), pa.list_(pa.float32())),
            "label": pa.array(labels, i32)})

    builders = [region, nation, customer, supplier, part, orders, lineitem,
                events, documents, embeddings]
    return {b.__name__: b(np.random.default_rng([seed, k]))
            for k, b in enumerate(builders)
            if names is None or b.__name__ in names}


def _write(table, path: Path):
    path.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path / "part-0.parquet")


def write_tables(out: Path, seed: int, sf: float):
    for name, table in tables(seed, sf).items():
        _write(table, out / f"{name}.parquet")


def write_arrivals(out: Path, seed: int, sf: float = 0.1, base_days: int = 19,
                   slices: int = 40, catchup_parts: int = 3):
    """Events cut into a bulk base (the first `base_days` days), one
    catch-up day in `catchup_parts` contiguous parts, and `slices` contiguous arrival slices of the
    remaining days, in timestamp order, with seeded sizes (0.5x-1.5x of
    the mean). Tick schedule (`ticks.json`, -1 = empty tick): the
    reference DAG's collector runs every 30 minutes (cron `*/30`) and
    METARs are issued hourly, so each slice, one hourly issue, gets two
    ticks; the seed picks which of the two lands it and the other is
    empty. One tick in two is empty."""
    rng = np.random.default_rng([seed, 100])
    ev = tables(seed, sf, ["events"])["events"]
    ts = ev.column("ts").to_numpy().astype("int64")
    base = int(np.searchsorted(ts, EVENTS_T0_US + base_days * DAY_US))
    cut0 = int(np.searchsorted(ts, EVENTS_T0_US + (base_days + 1) * DAY_US))
    _write(ev.slice(0, base), out / "base")
    parts = np.linspace(base, cut0, catchup_parts + 1).astype(int)
    for i in range(catchup_parts):
        _write(ev.slice(parts[i], parts[i + 1] - parts[i]), out / f"catchup-{i}")
    w = rng.uniform(0.5, 1.5, slices)
    cuts = cut0 + np.round(np.concatenate([[0], np.cumsum(w)]) / w.sum() *
                           (len(ts) - cut0)).astype(int)
    for i in range(slices):
        _write(ev.slice(cuts[i], cuts[i + 1] - cuts[i]), out / f"slice-{i}")
    ticks = []
    for i in range(slices):
        ticks += [i, -1] if rng.random() < 0.5 else [-1, i]
    (out / "ticks.json").write_text(json.dumps(ticks))
