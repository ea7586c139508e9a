"""Independent answers the benchmark checks the engine against.

* ``grid_dbscan``: exact sequential-DBSCAN labels in NumPy, with eps
  cells on at most three axes so only the 3^k surrounding cells are
  compared. It follows the
  conventions of ``tests/oracle.seq_dbscan`` (noise 0, clusters dense
  1..K by their minimum core index, a border point joins the cluster
  of its minimum core root) without its all-pairs cost, so a fresh
  seed's answer takes seconds, not minutes.
* ``fineweb_digest``: the registry's ``oracle_sql()`` DuckDB twin of
  ``fineweb_pipeline``, reduced to (row count, hash).

Answers are cached per (workload, seed, input hash) under the
checkout's ``.perfbench/cache`` so a seed pays for its oracle once.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
PINS = os.path.join(HERE, "pins.json")


def grid_dbscan(x: np.ndarray, eps: float, min_pts: int, max_axes: int = 3, chunk: int = 8192) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    n, d = x.shape
    eps2 = float(eps) * float(eps)
    # eps cells on the widest axes only: an eps-neighbor is within eps
    # on every axis, so the 3^k surrounding cells hold all candidates
    axes = np.argsort(-(x.max(axis=0) - x.min(axis=0)), kind="stable")[:max_axes]
    g = x[:, axes]
    cell = np.floor((g - g.min(axis=0)) / eps).astype(np.int64) + 1  # +1: offsets stay >= 0
    dims = cell.max(axis=0) + 2
    strides = np.cumprod(np.concatenate(([1], dims[:0:-1])))[::-1]
    key = cell @ strides
    order = np.argsort(key, kind="stable")
    skey = key[order]
    offsets = [np.asarray(o) @ strides for o in itertools.product((-1, 0, 1), repeat=len(axes))]

    counts = np.ones(n, dtype=np.int64)  # self
    us, vs = [], []
    for lo in range(0, n, chunk):
        i = np.arange(lo, min(lo + chunk, n))
        for off in offsets:
            a = np.searchsorted(skey, key[i] + off, "left")
            b = np.searchsorted(skey, key[i] + off, "right")
            m = b - a
            ii = np.repeat(i, m)
            jj = order[np.repeat(a - np.cumsum(m) + m, m) + np.arange(m.sum())]
            d2 = np.zeros(ii.size)
            for j in range(d):  # per-dim, left to right, as the engine sums
                diff = x[ii, j] - x[jj, j]
                d2 += diff * diff
            hit = (d2 <= eps2) & (ii != jj)
            ii, jj = ii[hit], jj[hit]
            counts += np.bincount(ii, minlength=n)
            keep = ii < jj
            us.append(ii[keep].astype(np.int32))
            vs.append(jj[keep].astype(np.int32))
    u = np.concatenate(us)
    v = np.concatenate(vs)
    core = counts >= min_pts

    labels = np.zeros(n, dtype=np.int64)
    if not core.any():
        return labels
    cc = core[u] & core[v]
    root = _min_root(u[cc], v[cc], n)  # min core index of each core's component
    uniq = np.unique(root[core])
    dense = np.zeros(n, dtype=np.int64)
    dense[uniq] = np.arange(1, uniq.size + 1)
    labels[core] = dense[root[core]]

    # border: non-core with a core neighbor joins its minimum core root
    bu = np.concatenate([u[core[v] & ~core[u]], v[core[u] & ~core[v]]])
    bc = np.concatenate([v[core[v] & ~core[u]], u[core[u] & ~core[v]]])
    broot = np.full(n, n, dtype=np.int64)
    np.minimum.at(broot, bu, root[bc])
    border = broot < n
    labels[border] = dense[broot[border]]
    return labels


def _min_root(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Min-label connected components by pointer doubling."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        before = lab.copy()
        np.minimum.at(lab, u, lab[v])
        np.minimum.at(lab, v, lab[u])
        lab = lab[lab]
        if np.array_equal(lab, before):
            return lab


def fineweb_digest(entry, sf_dir: str) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        return frame_digest(con.sql(entry.oracle_sql()["fineweb_pipeline"]).df())
    finally:
        con.close()


def frame_digest(pdf) -> tuple[int, str]:
    """Row count and an order-free SHA-256 of a result frame, columns
    by name and values by their Python repr, so a Spark frame and a
    DuckDB frame of the same rows hash the same."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def _canon(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating)):
        return float(v)
    return str(v)


def pinned(key: str):
    """A digest recorded in ``pins.json`` (checked once against DuckDB)."""
    with open(PINS) as fh:
        pin = json.load(fh).get(key)
    return tuple(pin) if pin else None


def input_key(workload: str, seed: int, data: bytes) -> str:
    """Names an oracle answer by the inputs it answers, not only the seed."""
    return f"{workload}-{seed}-{hashlib.sha256(data).hexdigest()[:16]}"


class Cache:
    """Oracle answers on disk, one file per ``input_key``."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "cache")
        os.makedirs(self.dir, exist_ok=True)

    def labels(self, key: str, compute) -> np.ndarray:
        path = os.path.join(self.dir, key + ".npy")
        if os.path.exists(path):
            return np.load(path)
        labels = compute()
        np.save(path + ".tmp.npy", labels)
        os.replace(path + ".tmp.npy", path)
        return labels

    def digest(self, key: str, compute) -> tuple[int, str]:
        path = os.path.join(self.dir, key + ".json")
        if os.path.exists(path):
            with open(path) as fh:
                return tuple(json.load(fh))
        digest = compute()
        with open(path + ".tmp", "w") as fh:
            json.dump(list(digest), fh)
        os.replace(path + ".tmp", path)
        return digest
