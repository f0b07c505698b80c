"""Numpy-vectorized scoring kernels for the vector operators (X2/X4).

Why these exist: the codegen'd unrolled folds in ``functions/vectors.py``
are bit-exact vs DuckDB (used where oracle parity matters — X3 brute
force), but a dim-64 unrolled multiply-add chain *per plane / per cell*
builds Catalyst expression trees with thousands of nodes: second-scale
analysis time and interpreted per-row evaluation (measured 44-67 s per
query at sf0.01 in round 2). For candidate *generation* and
*verification* — LSH bucketing, IVF cell assignment, cosine verify —
sub-ULP float differences cannot change results (scores round to 6dp;
a bucket bit only flips when a dot product sits within ~1e-15 of zero),
so the scale path scores each Arrow batch with one BLAS matvec instead.

Every factory closes over driver-side constants (query vector, plane
matrix, codebook) and returns an Arrow-batched ``pandas_udf`` — one
matrix-vector/matrix-matrix product per batch, no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf

__all__ = ["query_cosine_udf", "pair_cosine_udf", "sign_buckets_udf",
           "argmax_cells", "argmax_cell_udf", "sign_bits", "pq_encode_udf",
           "pq_adc_cosine_udf"]


def _mat(vs: pd.Series, dim: int) -> np.ndarray:
    """Stack an Arrow batch of array<float> values into an (n, dim)
    float64 matrix. A NULL vector raises: it has no place in the
    matrix, and numpy would only fail later on a shape mismatch."""
    if len(vs) == 0:
        return np.empty((0, dim), dtype=np.float64)
    if vs.isna().any():
        raise ValueError(f"a NULL vector reached a {dim}-dim kernel")
    return np.array(vs.tolist(), dtype=np.float64)


def query_cosine_udf(query_vec: list[float]):
    """cosine(v, q) for a constant query vector: one BLAS matvec per
    Arrow batch. Zero-norm rows yield NaN — callers null them with
    ``F.nanvl(score, F.lit(None))`` before any descending sort (Spark
    orders NaN ABOVE every double, unlike NULL)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))
    dim = len(query_vec)

    @pandas_udf("double")
    def _score(vs: pd.Series) -> pd.Series:
        m = _mat(vs, dim)
        denom = np.linalg.norm(m, axis=1) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom != 0.0, (m @ q) / denom, np.nan)
        return pd.Series(out)

    return _score


def pair_cosine_udf(dim: int):
    """cosine(a, b) over two vector columns (near-dup verification):
    row-wise einsum over the batch. NaN on zero norms (see
    query_cosine_udf)."""

    @pandas_udf("double")
    def _score(a: pd.Series, b: pd.Series) -> pd.Series:
        ma, mb = _mat(a, dim), _mat(b, dim)
        denom = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom != 0.0,
                           np.einsum("ij,ij->i", ma, mb) / denom, np.nan)
        return pd.Series(out)

    return _score


def sign_bits(vec, planes) -> int:
    """Driver-side sign-LSH bucket of one vector (the query side of a
    probe): bit i set iff planes[i] . vec >= 0. Uses the same numpy dot
    as the executor-side kernel so query and corpus agree on
    borderline-zero projections."""
    p = np.asarray(planes, dtype=np.float64)
    v = np.asarray(vec, dtype=np.float64)
    bits = (p @ v) >= 0.0
    return int(bits @ (1 << np.arange(len(planes), dtype=np.int64)))


def sign_buckets_udf(plane_tables: list[list[list[float]]], dim: int):
    """All sign-LSH table buckets in ONE kernel: stack every table's
    planes into a single (total_planes, dim) matrix, one matmul per
    batch, then pack sign bits per table. Returns array<long> with one
    bucket id per table."""
    flat = [p for table in plane_tables for p in table]
    pmat = np.asarray(flat, dtype=np.float64)
    sizes = [len(t) for t in plane_tables]
    offsets = np.concatenate([[0], np.cumsum(sizes)])
    weights = [(1 << np.arange(s, dtype=np.int64)) for s in sizes]

    @pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        m = _mat(vs, dim)
        bits = (m @ pmat.T) >= 0.0
        out = np.empty((len(m), len(sizes)), dtype=np.int64)
        for t in range(len(sizes)):
            out[:, t] = bits[:, offsets[t]:offsets[t + 1]] @ weights[t]
        return pd.Series(list(out))

    return _buckets


def pq_encode_udf(codebooks: list[list[list[float]]], dim: int):
    """Product-quantization encoder (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11): split each vector into
    m = len(codebooks) contiguous subvectors; code j = argmin L2 distance
    to codebook j's centroids (np.argmin: lowest index on ties —
    deterministic). One einsum per subspace per Arrow batch; returns
    array<int> of m codes (a 64-dim vector compresses to m bytes of
    index payload when persisted)."""
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(cbs)
    dsub = dim // m
    cnorms = [np.einsum("kd,kd->k", cb, cb) for cb in cbs]

    @pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        x = _mat(vs, dim).reshape(-1, m, dsub)
        out = np.empty((x.shape[0], m), dtype=np.int32)
        for j in range(m):
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2; ||x||^2 constant
            # over the argmin, dropped.
            d = cnorms[j] - 2.0 * (x[:, j, :] @ cbs[j].T)
            out[:, j] = np.argmin(d, axis=1)
        return pd.Series(list(out))

    return _encode


def pq_adc_cosine_udf(codebooks: list[list[list[float]]],
                      query_vec: list[float]):
    """Asymmetric-distance (ADC) cosine estimate from PQ codes alone: the
    query stays full-precision, the corpus vector is its reconstruction
    from the codebooks. Per-query lookup tables (inner product + centroid
    energy per subspace) are built ONCE driver-side; each Arrow batch is
    two table-gather sums — no corpus vectors touched at probe time,
    which is the entire point of PQ at scale (the index is m ints/vector,
    the raw embeddings stay in cold storage)."""
    cbs = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(cbs)
    dim = len(query_vec)
    dsub = dim // m
    q = np.asarray(query_vec, dtype=np.float64).reshape(m, dsub)
    qn = float(np.linalg.norm(q))
    ip_lut = np.stack([cbs[j] @ q[j] for j in range(m)])        # (m, ksub)
    en_lut = np.stack([np.einsum("kd,kd->k", cbs[j], cbs[j])
                       for j in range(m)])                      # (m, ksub)

    @pandas_udf("double")
    def _score(codes: pd.Series) -> pd.Series:
        c = np.array(codes.tolist(), dtype=np.int64)            # (n, m)
        rows = np.arange(m)
        ip = ip_lut[rows, c].sum(axis=1)
        norm = np.sqrt(en_lut[rows, c].sum(axis=1))
        denom = norm * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            out = np.where(denom != 0.0, ip / denom, np.nan)
        return pd.Series(out)

    return _score


def argmax_cells(centroids: list[list[float]]):
    """IVF cell assignment as a plain numpy function of an (n, dim)
    float64 matrix: argmax_c cosine(v, c) with |v| cancelled (same
    argmax) and 1/|c| precomputed. np.argmax keeps the LOWEST index on
    ties — the classic tie-break (the round-2 SQL struct trick broke ties
    high; this restores low). All-zero vectors score 0.0 against every
    cell and land in cell 0 deterministically. The Arrow kernel below
    and `semantic_dedup`'s driver path both call it, so the two assign
    every vector the same cell."""
    c = np.asarray(centroids, dtype=np.float64)
    norms = np.linalg.norm(c, axis=1)
    inv = 1.0 / np.where(norms == 0.0, 1.0, norms)

    def assign(m: np.ndarray) -> np.ndarray:
        return np.argmax((m @ c.T) * inv, axis=1).astype(np.int32)

    return assign


def argmax_cell_udf(centroids: list[list[float]], dim: int):
    """`argmax_cells` over each Arrow batch of a vector column."""
    assign = argmax_cells(centroids)
    dim = int(dim)

    @pandas_udf("int")
    def _cell(vs: pd.Series) -> pd.Series:
        return pd.Series(assign(_mat(vs, dim)))

    return _cell
