"""Seeded input generators for the benchmark.

The engine only ever sees the files written here. Two families:

* ``write_tables``: the TPC-H-ish star schema plus the ``documents`` and
  ``embeddings`` tables, one parquet file each, with the column types,
  value ranges and row counts per scale factor of the repository's testdata
  corpus (TESTDATA.md). Sizes: customer 150000*sf, supplier 10000*sf, part
  200000*sf, orders 1500000*sf, lineitem 6000000*sf, documents
  max(500, 50000*sf), embeddings max(500, 20000*sf); nation and region are
  fixed.
* ``write_pm25``: the reference's 27-column ``pm25.txt`` layout
  (``yyyy/MM/dd,大里,PM2.5,h0..h23``) and its k=4 seed-centre file.

Same seed, same bytes.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
ADJ = "small red blue hot old large cold new".split()
NOUN = "ring widget bolt gear rod plate gizmo anvil".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "documents", "embeddings")


def _cents(rng, lo, hi, n):
    """Uniform doubles in [lo, hi] with two decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    d = np.datetime64(start.isoformat()) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), lengths.sum())]
    texts, at = [], 0
    for ln in lengths:
        texts.append(" ".join(words[at:at + ln]))
        at += ln
    # 5% of the documents are near-duplicates: another document's text with
    # one extra token, the shape the dedup and near-dup rows look for
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def write_tables(out, sf, seed, tables):
    """Write the named tables at scale factor ``sf`` into ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1000)])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64 = (lambda a: pa.array(np.asarray(a, dtype=np.int32)),
                lambda a: pa.array(np.asarray(a, dtype=np.int64)))
    # one child generator per table, so a table's rows do not depend on
    # which other tables were asked for
    sub = dict(zip(TABLES, rng.spawn(len(TABLES))))
    for name in tables:
        r = sub[name]
        if name == "region":
            _write(out, name, {"r_regionkey": i32(range(5)),
                               "r_name": pa.array(REGIONS, pa.string())})
        elif name == "nation":
            _write(out, name, {"n_nationkey": i32(range(25)),
                               "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                               "n_regionkey": i32([i % 5 for i in range(25)])})
        elif name == "customer":
            _write(out, name, {
                "c_custkey": i64(range(n_cust)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
                "c_nationkey": i32(r.integers(0, 25, n_cust)),
                "c_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_cust)),
                "c_mktsegment": _pick(r, SEGMENTS, n_cust)})
        elif name == "supplier":
            _write(out, name, {
                "s_suppkey": i64(range(n_supp)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
                "s_nationkey": i32(r.integers(0, 25, n_supp)),
                "s_acctbal": pa.array(_cents(r, -999.99, 9999.99, n_supp))})
        elif name == "part":
            keys = np.arange(n_part)
            names = [f"{a} {b}" for a, b in zip(np.asarray(ADJ, dtype=object)[r.integers(0, 8, n_part)],
                                                np.asarray(NOUN, dtype=object)[r.integers(0, 8, n_part)])]
            _write(out, name, {
                "p_partkey": i64(keys),
                "p_name": pa.array(names, pa.string()),
                "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], pa.string()),
                "p_type": _pick(r, PTYPES, n_part),
                "p_size": i32(r.integers(1, 51, n_part)),
                "p_retailprice": pa.array((9000 + keys % 1000) / 10.0)})
        elif name == "orders":
            _write(out, name, {
                "o_orderkey": i64(range(n_ord)),
                "o_custkey": i64(r.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(_cents(r, 1000.0, 500000.0, n_ord)),
                "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                "o_orderpriority": _pick(r, PRIORITIES, n_ord)})
        elif name == "lineitem":
            _write(out, name, {
                "l_orderkey": i64(r.integers(0, n_ord, n_line)),
                "l_partkey": i64(r.integers(0, n_part, n_line)),
                "l_suppkey": i64(r.integers(0, n_supp, n_line)),
                "l_linenumber": i32(r.integers(1, 8, n_line)),
                "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_cents(r, 900.0, 105000.0, n_line)),
                "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
                "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
                "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(r, ["F", "O"], n_line),
                "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)})
        elif name == "documents":
            _write(out, name, _documents(r, n_doc))
        elif name == "embeddings":
            _write(out, name, _embeddings(r, n_emb))
        else:
            raise ValueError(f"unknown table {name}")


# Mean daily profile of each of the four regimes (clean, moderate, polluted,
# episode), in µg/m³; hours follow a diurnal curve with a morning and an
# evening peak.
PM25_LEVELS = (12.0, 30.0, 55.0, 90.0)
PM25_WEIGHTS = (0.3, 0.35, 0.22, 0.13)


def pm25_rows(n, seed):
    """``n`` pm25.txt rows as (date, hours[n, 24]) — about 2% zero readings."""
    rng = np.random.default_rng([seed, 25])
    hours = np.arange(24)
    diurnal = 1.0 + 0.25 * np.cos((hours - 8) * np.pi / 6) * (hours < 12) \
        + 0.3 * np.cos((hours - 20) * np.pi / 6) * (hours >= 14)
    regime = rng.choice(4, n, p=PM25_WEIGHTS)
    level = np.asarray(PM25_LEVELS)[regime] * rng.lognormal(0.0, 0.12, n)
    vals = level[:, None] * diurnal[None, :] + rng.normal(0.0, 4.0, (n, 24))
    vals = np.clip(np.rint(vals), 1, 400).astype(np.int64)
    vals[rng.random((n, 24)) < 0.02] = 0
    return regime, vals


def _pm25_line(day, vals):
    return f"{day:%Y/%m/%d},大里,PM2.5," + ",".join(str(int(v)) for v in vals)


def write_pm25(out, n, seed):
    """Write ``pm25.txt`` (n rows) and ``pm25.cluster.center.conf.txt``.

    The seed centres are the first row of each regime, in regime order, so
    every centre starts inside its own cluster. Both files end without a
    trailing newline, like the reference's.
    """
    os.makedirs(out, exist_ok=True)
    regime, vals = pm25_rows(n, seed)
    base = dt.date(2015, 1, 1)
    lines = [_pm25_line(base + dt.timedelta(days=i), vals[i]) for i in range(n)]
    with open(os.path.join(out, "pm25.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
    seeds = [lines[int(np.flatnonzero(regime == k)[0])] for k in range(4)]
    with open(os.path.join(out, "pm25.cluster.center.conf.txt"), "w", encoding="utf-8") as f:
        f.write("\n".join(seeds))
