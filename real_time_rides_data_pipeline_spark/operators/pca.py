"""Distributed PCA fit: gramian aggregation + driver-side eigh.

The scale shape (SURVEY.md §2.9 similarity/embedding family): for an
n×d embedding matrix X with small d (64 here) and unbounded n, the top
principal directions are the top eigenvectors of X'X — a d×d matrix.
X'X is an ASSOCIATIVE sum of per-batch partials, so executors each
reduce their Arrow batches to one d² vector (numpy matmul, zero-copy
via mapInArrow), a single element-wise aggregation produces the global
gramian (d² doubles — bounded, never data-proportional), and the d×d
symmetric eigendecomposition runs on the driver in microseconds. The
fitted components then fold back into query plans as array literals —
the same fit-small/broadcast-big contract as
``similarity.fit_centroids_kmeans``.

Uncentered PCA (gramian of raw vectors, i.e. top right-singular
directions of X) by design: centering adds a second pass for the mean
without changing the plumbing, and for zero-ish-mean embedding spaces
the directions coincide; callers that need centered PCA can subtract a
broadcast mean column first and reuse this fit unchanged.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gramian(df: DataFrame) -> "list[list[float]]":
    """Exact (up to float-add order) d×d gramian X'X of ``embedding``.

    One mapInArrow pass emits a flattened partial per PARTITION (batches
    accumulate locally first); the partials are exploded to (pos, val) and
    hash-aggregated — d² × n_partitions tiny rows, bounded by cluster
    width rather than data size.
    """
    import numpy as np

    def _partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # Accumulate across ALL of the partition's batches and emit ONE
        # partial — the shuffle is then d²·n_partitions rows (truly bounded),
        # not d²·n_batches (which grows linearly with data).
        acc = None
        for batch in batches:
            col = batch.column("embedding")
            if len(col) == 0:
                continue
            # Contract: non-null, equal-width vectors — then flatten+reshape
            # is zero-copy. A null row would silently DROP values in
            # flatten() and a ragged width would surface only as an opaque
            # reshape error (or worse, a plausible-but-wrong gramian if the
            # drop count happens to divide the width), so violations fail
            # loudly here with the real cause.
            if col.null_count:
                raise ValueError(
                    f"gramian: {col.null_count} null vector(s) in "
                    f"'embedding' — drop or impute nulls before the fit"
                )
            flat = col.flatten().to_numpy(zero_copy_only=False)
            if len(flat) % len(col):
                raise ValueError(
                    f"gramian: ragged 'embedding' widths (batch of "
                    f"{len(col)} rows holds {len(flat)} values)"
                )
            x = flat.astype(np.float64, copy=False).reshape(len(col), -1)
            if acc is not None and x.shape[1] != acc.shape[0]:
                raise ValueError(
                    f"gramian: 'embedding' width changed {acc.shape[0]} → "
                    f"{x.shape[1]} across batches"
                )
            g = x.T @ x
            acc = g if acc is None else acc + g
        if acc is not None:
            yield pa.RecordBatch.from_pydict(
                {"gram": pa.array([acc.ravel().tolist()], pa.list_(pa.float64()))}
            )

    parts = df.select("embedding").mapInArrow(_partials, "gram array<double>")
    summed = (
        parts.select(F.posexplode("gram").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"))
        .collect()  # bounded: exactly d² rows regardless of data size
    )
    vals = {r["pos"]: r["s"] for r in summed}
    if not vals:
        # Would otherwise surface downstream as an eigh on a 0×0 matrix.
        raise ValueError("gramian: no vectors in 'embedding' (empty input)")
    d = int(len(vals) ** 0.5)
    assert d * d == len(vals), f"gramian size {len(vals)} is not a square"
    return [[vals[i * d + j] for j in range(d)] for i in range(d)]


def _sign_fix(v):
    """Deterministic eigenvector orientation: the largest-|coord| entry
    (first on ties) is made positive — kills the ±v ambiguity."""
    import numpy as np

    idx = int(np.argmax(np.abs(v)))
    return -v if v[idx] < 0 else v


def fit_top2_gramian(df: DataFrame) -> tuple[list[float], list[float]]:
    """Top-2 principal directions of ``embedding`` (descending
    eigenvalue, sign-fixed)."""
    import numpy as np

    g = np.asarray(gramian(df))
    evals, evecs = np.linalg.eigh(g)  # ascending; symmetric → real
    v1 = _sign_fix(evecs[:, -1])
    v2 = _sign_fix(evecs[:, -2])
    return [float(x) for x in v1], [float(x) for x in v2]
