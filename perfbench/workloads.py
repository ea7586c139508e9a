"""The benchmark's workloads: seeded inputs, one checked run, and its oracle.

A workload object is built once per process: it makes the inputs for
its seed, fetches the oracle's answer for them, and then runs the
engine once per ``run`` call through the engine's public calls,
timing the run from input to output (wall and CPU seconds) and then
checking that output.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import time
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class Grid2d:
    """``dbscan_grid2d``: the CLI's ``-i/-o`` path on 2-D blobs.

    Gaussian blobs on a 10x10 lattice plus 5 % uniform noise, written
    as one parquet file, read with ``read_points_parquet``, clustered
    with ``dbscan``, summarised with ``dbscan_stats`` and written with
    ``write_clusters``. At 50k points the grid has 16 cells of ~3k rows,
    all under ``block_fallback_rows`` (8192), and n is far under the 2M
    driver-label gate, so the block-pair route never runs."""

    name = "dbscan_grid2d"
    rows = 50_000
    side, spacing, std, noise = 10, 10.0, 0.5, 0.05
    eps, min_pts = 0.3, 10

    @classmethod
    def points(cls, seed: int) -> np.ndarray:
        rng = np.random.default_rng(seed)
        ax = (np.arange(cls.side) + 0.5) * cls.spacing
        centers = np.array([(a, b) for a in ax for b in ax])
        n_noise = int(cls.rows * cls.noise)
        blobs = centers[rng.integers(0, len(centers), cls.rows - n_noise)]
        blobs = blobs + rng.normal(0.0, cls.std, blobs.shape)
        noise = rng.uniform(0.0, cls.side * cls.spacing, (n_noise, 2))
        return np.vstack([blobs, noise])[rng.permutation(cls.rows)]

    def __init__(self, seed: int, work: str, cache: oracle.Cache):
        self.work = work
        x = self.points(seed)
        self.path = os.path.join(work, "points.parquet")
        # one file of flat x0/x1 doubles: the CLI path mints ids in file
        # order, so the oracle's min-core-index numbering is row order
        pq.write_table(pa.table({"x0": x[:, 0], "x1": x[:, 1]}), self.path)

        labels = cache.labels(
            oracle.input_key(self.name, seed, x.tobytes()), lambda: oracle.grid_dbscan(x, self.eps, self.min_pts)
        )
        self.stats = label_stats(labels)
        # the sink stores float32 positions and no id: compare sorted rows
        self.expected = _sorted_rows(np.column_stack([x.astype(np.float32), labels]).astype(np.float64))

    def run(self, spark, i: int, cpu, tracer=None) -> tuple[float, float, bool]:
        from cs533_big_data_data_mining_spark import dbscan, dbscan_stats
        from cs533_big_data_data_mining_spark.sources.points import read_points_parquet, write_clusters

        span = tracer.span if tracer else lambda _name: nullcontext()
        stage_times = {} if tracer else None
        out = os.path.join(self.work, f"out{i}")
        t0, cpu_elapsed = time.perf_counter(), cpu()
        with span("sources.points.read_s"):
            pts = read_points_parquet(spark, self.path)
        labeled = dbscan(pts, eps=self.eps, min_pts=self.min_pts, stage_times=stage_times)
        with span("operators.stats.stats_s"):
            stats = dbscan_stats(labeled).head().asDict()
        with span("sources.points.write_s"):
            write_clusters(labeled, out)
        labeled.unpersist()
        dt, dc = time.perf_counter() - t0, cpu_elapsed()

        got = pq.read_table(out).to_pandas()
        got = _sorted_rows(got[["position_col_X0", "position_col_X1", "cluster_id"]].to_numpy(np.float64))
        ok = {k: int(v) for k, v in stats.items()} == self.stats and np.array_equal(got, self.expected)
        if tracer:
            tracer.add_stage_times(stage_times)
            tracer.count("sources.points.write_bytes", _parquet_bytes(out))
        shutil.rmtree(out, ignore_errors=True)
        return dt, dc, ok


class Fineweb:
    """``fineweb_pipeline``: the ``queries()`` registry entry.

    The documents table mimics the registry's (docs of 10-100 words
    from a 30-word vocabulary, 5 % ending in ``dup``, five languages,
    20 sources) at 500 docs, the registry's sf0.01 size. The output is
    checked by row count and hash against a pin in ``pins.json`` or,
    for an unpinned seed, against the ``oracle_sql()`` DuckDB twin."""

    name = "fineweb_pipeline"
    rows = 500
    vocab = (
        "a agg batch big column customer data fast filter group hash join key line merge "
        "order part query row scan slow small sort spark stream table the value vector window"
    ).split()
    langs, lang_p = ("en", "zh", "es", "fr", "de"), (0.41, 0.15, 0.15, 0.15, 0.14)

    def __init__(self, seed: int, work: str, cache: oracle.Cache):
        self.work = work
        rng = np.random.default_rng(seed)
        words = np.array(self.vocab)
        texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, self.rows)]
        for i in np.flatnonzero(rng.random(self.rows) < 0.05):
            texts[i] += " dup"
        langs = rng.choice(self.langs, self.rows, p=self.lang_p)
        docs = pa.table(
            {
                "doc_id": np.arange(self.rows, dtype=np.int64),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 20}" for i in range(self.rows)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        )
        pq.write_table(docs, os.path.join(work, "documents.parquet"))
        self.entry = load_entry()
        self.query = self.entry.queries()["fineweb_pipeline"]
        self.key = oracle.input_key(self.name, seed, "\n".join([*texts, *langs]).encode())
        self.digest = oracle.pinned(self.key) or cache.digest(
            self.key, lambda: oracle.fineweb_digest(self.entry, work)
        )

    def run(self, spark, i: int, cpu, tracer=None) -> tuple[float, float, bool]:
        t0, cpu_elapsed = time.perf_counter(), cpu()
        pdf = self.query(spark, self.work).toPandas()
        dt, dc = time.perf_counter() - t0, cpu_elapsed()
        return dt, dc, oracle.frame_digest(pdf) == self.digest


WORKLOADS = {w.name: w for w in (Grid2d, Fineweb)}


def load_entry():
    """The registry module at the checkout root (``__spark_entry__.py``)."""
    spec = importlib.util.spec_from_file_location("spark_entry", os.path.join(ROOT, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def label_stats(labels: np.ndarray) -> dict[str, int]:
    """``dbscan_stats``'s row, computed from labels."""
    clustered = int((labels > 0).sum())
    return {
        "total_points": int(labels.size),
        "points_in_clusters": clustered,
        "noise_count": int(labels.size - clustered),
        "n_clusters": int(labels.max()) if labels.size else 0,
    }


def _sorted_rows(m: np.ndarray) -> np.ndarray:
    return m[np.lexsort(m.T[::-1])]


def _parquet_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
