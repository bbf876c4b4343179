"""Arrow-vectorized sequential-fold vector kernels (guide §4.2).

The similarity / near-dup queries pin their float semantics to an
explicit SEQUENTIAL double fold (sum_i a[i]*b[i] accumulated left to
right) so Spark and the DuckDB oracles agree bitwise. The original
implementation expressed that fold as `F.aggregate` over
`F.sequence(1, 64)` — a Catalyst higher-order function that is
interpreted per element (no whole-stage codegen), costing ~1 µs per
fold STEP; a 16-plane RP-LSH signature is ~1100 steps per row, and the
planner can evaluate it once per join side.

These kernels do the same arithmetic in numpy across a whole Arrow
batch: products/differences are elementwise IEEE-754 doubles and the
accumulation is an explicit left-to-right COLUMN chain — the exact
order the SQL fold pins — so results are bit-identical (pinned by
tests/test_vecfold.py against the F.aggregate originals).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _mats(*cols: pd.Series, dim: int = 0):
    """Array columns → equal-width (n, w) float64 matrices (float32 →
    float64 widening is exact, same as the SQL cast) and the (n,) mask
    of rows every column holds at width w — ``dim``, else the widest
    array in the batch. A NULL or ragged row is zero-filled and masked
    out, so it cannot break the batch: a fold over it is NULL (as the
    Catalyst fold over a NULL array) and its RP-LSH signature 0 (as the
    SQL CASE WHEN fold > 0 form). An empty batch is (0, w), so it
    broadcasts against (dim,) rows."""
    lens = [s.map(len, na_action="ignore").fillna(-1).to_numpy()
            for s in cols]
    w = dim or int(max((n.max() for n in lens if len(n)), default=0))
    ok = np.logical_and.reduce([n == w for n in lens])
    mats = [np.zeros((len(s), w)) for s in cols]
    if ok.any():
        for M, s in zip(mats, cols):
            M[ok] = np.stack(s[ok].to_numpy())
    return mats, ok


def _null_unless(ok: np.ndarray, v: np.ndarray) -> pd.Series:
    """v as a Series, NULL where ``ok`` is False."""
    return pd.Series(v).where(ok)


def _seq_sum(P: np.ndarray) -> np.ndarray:
    """Left-to-right sequential sum over axis 1 — the fold's order."""
    if P.shape[1] == 0:
        return np.zeros(P.shape[0], dtype=np.float64)
    acc = P[:, 0].copy()
    for i in range(1, P.shape[1]):
        acc += P[:, i]
    return acc


def seq_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    return _seq_sum(A * B)


@F.pandas_udf(T.DoubleType())
def seq_dot_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Σ_i a[i]·b[i], sequential double fold order."""
    (A, B), ok = _mats(a, b)
    return _null_unless(ok, seq_dot(A, B))


@F.pandas_udf(T.DoubleType())
def cos_seq_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """dot(a,b) / (sqrt(dot(a,a)) · sqrt(dot(b,b))) — every operation
    elementwise IEEE double, fold order sequential (≡ the SQL form)."""
    (A, B), ok = _mats(a, b)
    with np.errstate(invalid="ignore"):  # 0/0 of a masked-out row
        cos = seq_dot(A, B) / (
            np.sqrt(seq_dot(A, A)) * np.sqrt(seq_dot(B, B)))
    return _null_unless(ok, cos)


@F.pandas_udf(T.DoubleType())
def d2_seq_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Σ_i (a[i]−b[i])², sequential. The square is computed as pow(d, 2)
    exactly like the SQL `** 2` (JVM Math.pow(d, 2.0) == d·d == numpy
    d**2 for all finite doubles — pinned by tests/test_vecfold.py)."""
    (A, B), ok = _mats(a, b)
    return _null_unless(ok, _seq_sum((A - B) ** 2))


def make_sig_norm_udf(signs: list[list[float]]):
    """RP-LSH signature + L2 norm in one Arrow crossing.

    bit k of sig = [sequential fold of Σ_i emb[i]·signs[k][i] > 0];
    norm = sqrt(sequential Σ_i emb[i]²). Identical to the nested
    F.aggregate form in queries/coverage.py it replaces."""
    S = np.asarray(signs, dtype=np.float64)  # (n_planes, dim)
    n_planes = S.shape[0]
    schema = T.StructType([
        T.StructField("sig", T.IntegerType()),
        T.StructField("norm", T.DoubleType()),
    ])

    @F.pandas_udf(schema)
    def sig_norm_udf(emb: pd.Series) -> pd.DataFrame:
        (E,), ok = _mats(emb, dim=S.shape[1])
        sig = np.zeros(len(emb), dtype=np.int64)
        for k in range(n_planes):
            proj = _seq_sum(E * S[k])
            sig += (proj > 0).astype(np.int64) << k
        norm = np.sqrt(_seq_sum(E * E))
        return pd.DataFrame({"sig": sig, "norm": _null_unless(ok, norm)})

    return sig_norm_udf


def make_sig_udf(signs: list[list[float]]):
    """Signature-only variant (rp_lsh_buckets)."""
    S = np.asarray(signs, dtype=np.float64)
    n_planes = S.shape[0]

    @F.pandas_udf(T.IntegerType())
    def sig_udf(emb: pd.Series) -> pd.Series:
        (E,), _ = _mats(emb, dim=S.shape[1])
        sig = np.zeros(len(emb), dtype=np.int64)
        for k in range(n_planes):
            proj = _seq_sum(E * S[k])
            sig += (proj > 0).astype(np.int64) << k
        return pd.Series(sig)

    return sig_udf
