"""Arrow-vectorized MinHash / SimHash signature kernels (guide §4.2).

The dedup-family queries derive per-word hashes with Catalyst
expressions — `array_min(transform(words, md5('sk|' || w)))` per seed,
or explode + 32 conditional SUMs for SimHash. Both forms are exact but
pay interpreted higher-order-function / per-bit-aggregate cost per
word; the md5 of each word is also recomputed for every document it
appears in, although web text is Zipfian.

These kernels compute the identical values in Python over Arrow
batches with a process-level word→hash cache (pure function of the
word, bounded; same pattern as oracle.reference._WORD_CACHE):

* MinHash:  h_k(doc) = min over distinct words of md5("s{k}|" + w) —
  hashlib md5 hexdigest equals Spark's md5(); min over lowercase-hex
  ASCII strings is the same binary order both engines use.
* SimHash:  per bit b, Σ over distinct words of ±1 by bit b of the
  word's leading-hex md5 value; signature bit b set iff the sum > 0 —
  exact integer arithmetic, identical to the explode + SUM(CASE) form.

Equality with the Catalyst forms is pinned by tests/test_vecfold.py.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MINHASH_CACHE: dict = {}
_SIMHASH_CACHE: dict = {}
_CACHE_MAX = 1 << 20


def _cache(store: dict, key) -> dict:
    """The process-level cache for ``key``, looked up at call time.
    The batch functions below are module-level, so cloudpickle ships
    them by reference and every task in a worker shares one cache — a
    dict captured in a UDF closure would be pickled (copied) per task."""
    cache = store.setdefault(key, {})
    if len(cache) > _CACHE_MAX:
        cache.clear()
    return cache


def _minhash_batch(words: pd.Series, seed_fmt: str,
                   n_hashes: int) -> pd.DataFrame:
    cache = _cache(_MINHASH_CACHE, (n_hashes, seed_fmt))
    seeds = [seed_fmt.format(k=k).encode() for k in range(n_hashes)]
    cget = cache.get
    cols: list[list] = [[] for _ in range(n_hashes)]
    for arr in words:
        hs = None
        for w in arr:
            t = cget(w)
            if t is None:
                wb = w.encode("utf-8", "surrogatepass")
                t = tuple(hashlib.md5(s + wb).hexdigest() for s in seeds)
                cache[w] = t
            if hs is None:
                hs = list(t)
            else:
                for k in range(n_hashes):
                    if t[k] < hs[k]:
                        hs[k] = t[k]
        # input contract: arrays are non-empty (callers filter
        # size > 0, matching the explode form's dropped groups)
        for k in range(n_hashes):
            cols[k].append(hs[k] if hs is not None else None)
    return pd.DataFrame({f"h{k}": cols[k] for k in range(n_hashes)})


def _simhash_batch(words: pd.Series, n_bits: int,
                   hex_chars: int) -> pd.Series:
    cache = _cache(_SIMHASH_CACHE, (n_bits, hex_chars))
    bit_shifts = np.arange(n_bits, dtype=np.int64)
    cget = cache.get
    out = np.zeros(len(words), dtype=np.int64)
    for i, arr in enumerate(words):
        whs = np.empty(len(arr), dtype=np.int64)
        for j, w in enumerate(arr):
            v = cget(w)
            if v is None:
                v = int(hashlib.md5(
                    w.encode("utf-8", "surrogatepass")
                ).hexdigest()[:hex_chars], 16)
                cache[w] = v
            whs[j] = v
        bits = (whs[:, None] >> bit_shifts) & 1       # (n, n_bits)
        sums = (2 * bits - 1).sum(axis=0)             # ±1 sums, exact
        out[i] = int(((sums > 0).astype(np.int64) << bit_shifts).sum())
    return pd.Series(out)


def make_minhash_udf(n_hashes: int, seed_fmt: str = "s{k}|"):
    """array<string> (distinct words, non-empty) → struct<h0..h{n-1}>.

    h_k = MIN(md5(seed_fmt.format(k=k) + word)) over the array — the
    exact value of the array_min/transform expression it replaces."""
    schema = T.StructType([
        T.StructField(f"h{k}", T.StringType()) for k in range(n_hashes)
    ])

    @F.pandas_udf(schema)
    def minhash_udf(words: pd.Series) -> pd.DataFrame:
        return _minhash_batch(words, seed_fmt, n_hashes)

    return minhash_udf


def make_simhash_udf(n_bits: int, hex_chars: int):
    """array<string> (distinct words, non-empty) → bigint SimHash.

    Per word: wh = int(md5(word)[:hex_chars], 16) (≡ conv(substr(md5)));
    per bit b: sum of +1/-1 by (wh >> b) & 1; signature bit b set iff
    the sum > 0. Exact integers throughout."""

    @F.pandas_udf(T.LongType())
    def simhash_udf(words: pd.Series) -> pd.Series:
        return _simhash_batch(words, n_bits, hex_chars)

    return simhash_udf
