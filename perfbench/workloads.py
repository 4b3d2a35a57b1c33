"""The benchmark's workloads: seeded inputs, set-up, operations, checks.

Each workload turns ``--seed`` into its inputs, sets up once per set-up
repetition, warms up once, and yields *rounds* of operations. An
operation builds a frame through the package's public functions (the
build), sinks it (``collect`` / ``toPandas``), and checks the result
against a reference the benchmark computes on its own.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np

# build-dominated registered queries (eager pins, collects, many small
# jobs) from the two families with the most pins, light enough that
# several passes fit in a run
DRIVER_CHAIN = ("q_graph_kcore", "q_graph_triangles", "q_train_linreg_gd")


@dataclass
class Op:
    """One timed operation. ``build`` returns the frame to sink;
    ``check`` returns None when the result is right, else a message."""

    kind: str
    build: Callable
    sink: str  # "collect" or "pandas"
    check: Callable[[object], str | None]
    rows: int


def sink(df, how: str):
    return df.collect() if how == "collect" else df.toPandas()


def warm_up(spark) -> None:
    """The session's first job: class loading and code generation of
    the basic scan/aggregate path that the first operation would
    otherwise pay."""
    from pyspark.sql import functions as F

    spark.range(1_000_000).select(F.sum("id")).collect()


# ---------------------------------------------------------------------------
class InferScale:
    """The flagship: ``ml.inference.flagship`` over a generated
    embeddings table (nearest-centroid scoring in an Arrow pandas UDF,
    joined back to truth)."""

    name = "infer_scale"
    ROWS = 400_000
    DIM = 64
    CLASSES = 10
    NOISE = 2.0  # about 2% of rows misclassified
    ANN_ROWS = 2_000

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.dir = os.path.join(work, "infer")
        self.ann_dir = os.path.join(work, "ann")

    def generate(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(self.seed)
        cents = rng.normal(0.0, 1.0, (self.CLASSES, self.DIM)).astype(np.float32)
        labels = rng.integers(0, self.CLASSES, self.ROWS).astype(np.int32)
        noise = rng.normal(0.0, self.NOISE, (self.ROWS, self.DIM)).astype(np.float32)
        X = cents[labels] + noise
        emb = pa.FixedSizeListArray.from_arrays(pa.array(X.reshape(-1)), self.DIM)
        table = pa.table(
            {
                "vec_id": pa.array(np.arange(self.ROWS, dtype=np.int64)),
                "embedding": emb.cast(pa.list_(pa.float32())),
                "label": pa.array(labels),
            }
        )
        for d, t in ((self.dir, table), (self.ann_dir, table.slice(0, self.ANN_ROWS))):
            os.makedirs(d, exist_ok=True)
            pq.write_table(t, os.path.join(d, "embeddings.parquet"))
        self.expected = self._reference(X.astype(np.float64), labels)
        self.expected_ann = self._reference(X[: self.ANN_ROWS].astype(np.float64),
                                            labels[: self.ANN_ROWS])
        return {"rows": self.ROWS, "dim": self.DIM, "classes": self.CLASSES,
                "parquet_bytes": os.path.getsize(os.path.join(self.dir, "embeddings.parquet"))}

    def _reference(self, X: np.ndarray, y: np.ndarray) -> dict:
        """NumPy nearest-centroid: fit per-label means, argmin of the
        expanded squared distance, per-class counts."""
        classes = np.unique(y)
        C = np.stack([X[y == c].mean(axis=0) for c in classes])
        pred = classes[np.argmin(-2.0 * X @ C.T + (C * C).sum(axis=1), axis=1)]
        out = {}
        for c in classes:
            mine = pred[y == c]
            wrong = mine[mine != c]
            out[int(c)] = (
                int(mine.size),
                int((mine == c).sum()),
                int(np.bincount(wrong).max()) if wrong.size else 0,
            )
        return out

    def setup(self, spark, timed) -> None:
        from embarrassingly_parallel_image_classification_spark.ml.inference import fit_centroids

        with timed("ml.inference.fit_s"):
            fit_centroids(spark.read.parquet(os.path.join(self.dir, "embeddings.parquet")))

    def probe_layers(self, spark, timed) -> None:
        """Traced run only: an IVF index build over the first rows, the
        ml.knn set-up cost an embedding store would add. The flagship
        never queries it, so untraced runs skip it."""
        from embarrassingly_parallel_image_classification_spark.ml.knn import ensure_ivf_index

        with timed("ml.knn.index_build_s"):
            ensure_ivf_index(spark, self.ann_dir)

    @staticmethod
    def _check(expected: dict, rows) -> str | None:
        got = {r["label"]: (r["n"], r["n_correct"], r["max_confused_n"]) for r in rows}
        if got != expected:
            return f"per-class (n, n_correct, max_confused_n) {got} != reference {expected}"
        for r in rows:
            if abs(r["class_accuracy"] - r["n_correct"] / r["n"]) > 1e-6:
                return f"class_accuracy {r['class_accuracy']} for label {r['label']}"
        return None

    def _op(self, spark, small: bool = False) -> Op:
        from embarrassingly_parallel_image_classification_spark.ml.inference import flagship

        d, expected, rows = ((self.ann_dir, self.expected_ann, self.ANN_ROWS) if small
                             else (self.dir, self.expected, self.ROWS))
        return Op("flagship", lambda: flagship(spark, d), "collect",
                  lambda result: self._check(expected, result), rows)

    def warm(self, spark) -> list[Op]:
        """A call on the first 2,000 rows starts a Python worker and
        compiles the flagship plan; a full call then starts the other
        workers and JITs the Arrow path. A long-lived engine pays that
        once (on 4 vCPUs the third call is at steady speed)."""
        return [self._op(spark, small=True), self._op(spark)]

    def rounds(self, spark) -> Iterator[list[Op]]:
        while True:
            yield [self._op(spark)]


# ---------------------------------------------------------------------------
class FixtureMix:
    """Oracle-backed registered queries over the read-only fixture, in a
    seed-permuted order per pass; every result is checked against the
    query's DuckDB oracle."""


    def __init__(self, name: str, queries: tuple, seed: int, fixture: str):
        self.name = name
        self.queries = queries
        self.seed = seed
        self.fixture = fixture

    def generate(self) -> dict:
        import duckdb
        import pyarrow.parquet as pq

        from embarrassingly_parallel_image_classification_spark import registry
        from embarrassingly_parallel_image_classification_spark.sources.tables import TABLES

        table_rows = {
            t: pq.ParquetFile(os.path.join(self.fixture, f"{t}.parquet")).metadata.num_rows
            for t in TABLES
        }
        oracles = registry.oracles()
        names = self.queries
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.fixture}/{t}.parquet')"
                )
            self.want = {q: con.execute(oracles[q]).fetchdf() for q in names}
        finally:
            con.close()
        # input rows of a query: rows of the fixture tables its oracle names
        self.rows = {
            q: sum(n for t, n in table_rows.items() if re.search(rf"\b{t}\b", oracles[q]))
            for q in names
        }
        return {"fixture": os.path.basename(self.fixture), "table_rows": table_rows,
                "queries": list(self.queries)}

    def setup(self, spark, timed) -> None:
        pass

    def probe_layers(self, spark, timed) -> None:
        pass

    def _op(self, spark, q: str) -> Op:
        from embarrassingly_parallel_image_classification_spark import registry
        from embarrassingly_parallel_image_classification_spark.verify import diff_exact

        fn = registry.queries()[q]
        return Op(q, lambda: fn(spark, self.fixture), "pandas",
                  lambda pdf: diff_exact(pdf, self.want[q]), self.rows[q])

    def warm(self, spark) -> list[Op]:
        """One pass, then the first query once more: a query's first runs
        in a JVM pay code generation, class loading and JIT compilation
        that a long-lived engine pays once. k-core pays most (its first
        run takes 3-4x its steady time, its second still 25-40% more);
        the others are near steady speed on their second run."""
        return [self._op(spark, q) for q in self.queries + self.queries[:1]]

    def rounds(self, spark) -> Iterator[list[Op]]:
        rng = np.random.default_rng(self.seed)
        while True:
            yield [self._op(spark, str(q)) for q in rng.permutation(list(self.queries))]


def make(name: str, seed: int, work: str, fixture: str):
    if name == "infer_scale":
        return InferScale(seed, work)
    if name == "driver_chain":
        return FixtureMix(name, DRIVER_CHAIN, seed, fixture)
    raise ValueError(f"unknown workload {name!r}")
