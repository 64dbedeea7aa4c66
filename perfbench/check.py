"""Correctness checks, computed apart from the engine.

* ``oracle``: each query row's result (written by the cold pass as one
  ordered parquet part) against its ``SparkEntry.oracleSql`` twin run by
  DuckDB over the same generated tables, canonicalized as
  ``tools/compare.py`` does: columns sorted by name, doubles compared by
  ``repr``, logical types compared, rows compared in order.
* ``kmeans``: an independent numpy Lloyd run of the reference's variant-1
  job, plus properties of the labeling output.

Each returns a list of problems; an empty list means the output is correct.
"""
import glob
import json
import os

import duckdb
import numpy as np

from gen import TABLES

# Centres agree when within this share of their magnitude (at least 1.0);
# a point's assignment is excused when its two nearest centres' distances
# differ by less than this share of the nearer one.
KMEANS_TOL = 1e-9


def _canon(v):
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def _rows(rel):
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_canon(r[i]) for i in order) for r in rel.fetchall()], [cols[i] for i in order]


def _types(rel):
    return {n: str(t).replace(" WITH TIME ZONE", "") for n, t in zip(rel.columns, rel.types)}


def oracle(data_dir, out_dir, rows):
    """Compare every row in ``rows`` against its DuckDB oracle."""
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false; SET autoload_known_extensions=false")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    problems = []
    for name in rows:
        files = glob.glob(os.path.join(out_dir, "results", name, "*.parquet"))
        if not files:
            problems.append(f"{name}: no result written")
            continue
        if name not in sqls:
            problems.append(f"{name}: no oracle SQL")
            continue
        got = con.sql(f"SELECT * FROM read_parquet({sorted(files)!r})")
        try:
            exp = con.sql(sqls[name])
        except duckdb.Error as e:
            problems.append(f"{name}: oracle error {e}")
            continue
        g_rows, g_cols = _rows(got)
        e_rows, e_cols = _rows(exp)
        if g_cols != e_cols:
            problems.append(f"{name}: columns {g_cols} != oracle {e_cols}")
            continue
        g_t, e_t = _types(got), _types(exp)
        skew = {c: (g_t[c], e_t[c]) for c in g_t if g_t[c] != e_t.get(c, g_t[c])}
        if skew:
            problems.append(f"{name}: types differ {skew}")
        elif g_rows != e_rows:
            diff = next((i for i, (a, b) in enumerate(zip(g_rows, e_rows)) if a != b),
                        min(len(g_rows), len(e_rows)))
            problems.append(f"{name}: {len(g_rows)} rows vs oracle {len(e_rows)}, "
                            f"first difference at row {diff}")
    return problems


def _read_pm25(path):
    with open(path, encoding="utf-8") as f:
        lines = [ln for ln in f.read().split("\n") if ln.strip()]
    return lines, np.array([[float(x) for x in ln.split(",")[3:]] for ln in lines])


def _dist(points, centres):
    """Variant-1 distance sum((|p|-|q|)^2), points × centres."""
    return ((np.abs(points)[:, None, :] - np.abs(centres)[None, :, :]) ** 2).sum(axis=2)


def lloyd(points, seeds, iterations):
    """Lloyd with the engine's keep-the-previous-centre rule. Returns the
    centres and the smallest cluster size seen in any iteration."""
    centres = seeds.copy()
    smallest = len(points)
    for _ in range(iterations):
        a = np.argmin(_dist(points, centres), axis=1)
        nxt = centres.copy()
        for k in range(len(centres)):
            members = points[a == k]
            smallest = min(smallest, len(members))
            if len(members):
                nxt[k] = members.mean(axis=0)
        centres = nxt
    return centres, smallest


def kmeans(data_dir, out_dir, iterations=5):
    """Check the engine's centres and labeling output against numpy."""
    lines, points = _read_pm25(os.path.join(data_dir, "pm25.txt"))
    _, seeds = _read_pm25(os.path.join(data_dir, "pm25.cluster.center.conf.txt"))
    want, smallest = lloyd(points, seeds, iterations)
    problems = []
    if smallest == 0:
        problems.append("a cluster emptied during the Lloyd iterations")
    path = os.path.join(out_dir, "centers.json")
    if not os.path.exists(path):
        return problems + ["no centres written"]
    got = np.array(json.load(open(path)))
    if got.shape != want.shape:
        return problems + [f"centres shape {got.shape} != {want.shape}"]
    err = np.abs(got - want) / np.maximum(1.0, np.abs(want))
    if err.max() > KMEANS_TOL:
        problems.append(f"centres differ from the numpy Lloyd run by {err.max():.3g} (relative)")

    part = os.path.join(out_dir, "labels", "part-00000")
    if not os.path.exists(part):
        return problems + ["no labeling output"]
    with open(part, encoding="utf-8") as f:
        labeled = [ln for ln in f.read().split("\n") if ln]
    cid, raw = zip(*(ln.split("\t", 1) for ln in labeled)) if labeled else ((), ())
    if sorted(raw) != sorted(lines):
        problems.append(f"labeling output has {len(raw)} lines; they are not the "
                        f"{len(lines)} input lines, each once")
        return problems
    sizes = np.bincount(np.array(cid, dtype=int), minlength=5)[1:]
    if sizes.sum() != len(lines) or len(sizes) != len(want):
        problems.append(f"cluster sizes {sizes.tolist()} do not sum to {len(lines)}")
    d = _dist(points, want)
    expect = dict(zip(lines, np.argmin(d, axis=1) + 1))
    two = np.sort(d, axis=1)[:, :2]
    near_tie = dict(zip(lines, two[:, 1] - two[:, 0] <= KMEANS_TOL * np.maximum(1.0, two[:, 0])))
    wrong = sum(1 for c, r in zip(cid, raw) if int(c) != expect[r] and not near_tie[r])
    if wrong:
        problems.append(f"{wrong} points labeled with another cluster than the numpy run")
    return problems
