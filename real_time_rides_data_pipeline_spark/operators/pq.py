"""Product quantization (Jegou et al., "Product Quantization for Nearest
Neighbor Search") — the vector-compression layer of an IVF-PQ index.

A D-dim embedding splits into ``n_sub`` contiguous subspaces; each subspace
is assigned its nearest codebook centroid, compressing the vector to
``n_sub`` small codes plus a per-vector reconstruction error. Queries then
scan the compressed table with an asymmetric-distance (ADC) lookup table:
per subspace, the query's distance to each centroid is precomputed once,
and a row's approximate distance is ``n_sub`` table lookups — the memory
layout and query kernel every billion-scale ANN index stores instead of
raw floats.

All arithmetic is EXACT int64 (components scaled e6 with SQL
round-half-away semantics), so both the codes and the ADC distances are
oracle-checkable bit-for-bit. The assignment kernel is vectorized numpy
over Arrow batches (the operators/pca.py linalg pattern): a pure-JVM
higher-order-function twin was measured and rejected — HOFs do not enter
whole-stage codegen, costing ~0.4 ms/row interpreted (61 s at the 64x
octave vs 0.74 s for this kernel).

Scale: the codebook is a driver-side bounded fit (k rows collected,
closed over the kernel / folded into literals — bytes, not data
movement); assignment and ADC search are embarrassingly parallel narrow
maps over the scan, and top-k is TakeOrderedAndProject.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame


def half_away_e6(x) -> "np.ndarray":
    """``round(x * 1e6)`` with SQL round-half-away semantics, exact int64.

    Exact .5 ties cannot occur: a binary float equal to (2k+1)/2e6 would
    need a 5^6 factor in its denominator, so ``floor(v + 0.5)`` agrees
    with every tie rule (and with numpy's half-even) on real inputs.
    """
    v = np.asarray(x, dtype=np.float64) * 1000000.0
    return np.where(v >= 0, np.floor(v + 0.5), -np.floor(-v + 0.5)).astype(
        np.int64
    )


def subspace_codebook(rows):
    """(k, 4, 16) int64 codebook — 4 subspaces of 16 dims — from
    collected Row objects (sorted by id for determinism)."""
    mat = half_away_e6(
        [list(r.embedding) for r in sorted(rows, key=lambda r: r.vec_id)]
    )
    return mat.reshape(len(rows), 4, 16)


def pq_codes(df: DataFrame, csub) -> DataFrame:
    """Assign PQ codes: one narrow mapInArrow pass over ``(vec_id,
    embedding)`` emitting (vec_id, c0..c{S-1}, err) with exact int64
    squared-L2 subspace distances and the encoded-key argmin ``min(dist *
    k + cid)`` (deterministic tie-break toward the lower centroid id)."""
    k, n_sub, sub_dim = csub.shape

    def assign(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = np.asarray(b.column(0), dtype=np.int64)
            vs = half_away_e6(
                np.asarray(b.column(1).flatten(), dtype=np.float64)
            ).reshape(n, n_sub, sub_dim)
            out = {"vec_id": ids}
            err = np.zeros(n, dtype=np.int64)
            for s in range(n_sub):
                d = ((vs[:, None, s, :] - csub[None, :, s, :]) ** 2).sum(
                    axis=2
                )
                keys = d * k + np.arange(k, dtype=np.int64)[None, :]
                kk = keys.min(axis=1)
                out[f"c{s}"] = kk % k
                err += kk // k
            out["err"] = err
            yield pa.RecordBatch.from_pydict(out)

    cols = ", ".join(f"c{s} long" for s in range(n_sub))
    return df.select("vec_id", "embedding").mapInArrow(
        assign, f"vec_id long, {cols}, err long"
    )


def adc_lut(q_vec, csub):
    """(n_sub, k) int64 asymmetric-distance lookup table: the query's
    exact squared-L2 distance to every centroid per subspace."""
    k, n_sub, sub_dim = csub.shape
    qs = half_away_e6(q_vec).reshape(n_sub, sub_dim)
    return ((qs[:, None, :] - csub.transpose(1, 0, 2)) ** 2).sum(axis=2)
