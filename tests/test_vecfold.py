"""Pin the r6 Arrow kernels (functions/vecfold.py, functions/texthash.py)
bit-for-bit against the Catalyst higher-order-function forms they
replaced — on the real embeddings/documents test tables."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    from lgid_spark.session import get_spark

    s = get_spark("test_vecfold", master="local[8]")
    yield s


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF, "embeddings.parquet"))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF, "documents.parquet"))


def test_cos_and_dot_bitwise(spark, emb):
    from lgid_spark.functions import vecfold as V
    from lgid_spark.queries.similarity import _dot

    probes = emb.limit(5).select(
        F.col("vec_id").alias("pid"), F.col("embedding").alias("pvec"))
    pairs = emb.crossJoin(F.broadcast(probes))
    old_cos = _dot(F.col("embedding"), F.col("pvec")) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_dot(F.col("pvec"), F.col("pvec"))))
    d = pairs.select(
        old_cos.alias("o"), V.cos_seq_udf("embedding", "pvec").alias("n"),
        _dot(F.col("embedding"), F.col("pvec")).alias("od"),
        V.seq_dot_udf("embedding", "pvec").alias("nd"))
    assert d.where(~F.col("o").eqNullSafe(F.col("n"))
                   | ~F.col("od").eqNullSafe(F.col("nd"))).count() == 0


def test_d2_bitwise(spark, emb):
    from lgid_spark.functions import vecfold as V
    from lgid_spark.queries.similarity import DIM

    probes = emb.limit(4).select(F.col("embedding").alias("cvec"))
    pairs = emb.crossJoin(F.broadcast(probes))
    old_d2 = F.aggregate(
        F.sequence(F.lit(1), F.lit(DIM)), F.lit(0.0),
        lambda acc, i: acc + (
            F.element_at(F.col("embedding"), i).cast("double")
            - F.element_at(F.col("cvec"), i).cast("double")) ** 2)
    d = pairs.select(old_d2.alias("o"),
                     V.d2_seq_udf("embedding", "cvec").alias("n"))
    assert d.where(~F.col("o").eqNullSafe(F.col("n"))).count() == 0


def test_sig_norm_bitwise(spark, emb):
    from lgid_spark.functions import vecfold as V
    from lgid_spark.queries.coverage import _DUP_SIGNS, _dot64, _dup_sig_col

    sn = V.make_sig_norm_udf(_DUP_SIGNS)
    d = emb.select(
        _dup_sig_col().alias("osig"),
        F.sqrt(_dot64(F.col("embedding"), F.col("embedding"))).alias("onorm"),
        sn("embedding").alias("p"),
    ).select("osig", "onorm", "p.sig", "p.norm")
    assert d.where(~F.col("osig").eqNullSafe(F.col("sig"))
                   | ~F.col("onorm").eqNullSafe(F.col("norm"))).count() == 0


def test_minhash_bitwise(spark, docs):
    from lgid_spark.functions.texthash import make_minhash_udf
    from lgid_spark.queries.textops import _minhash_col, _words

    arr = F.array_distinct(_words(F.col("text")))
    udf = make_minhash_udf(8)
    d = (
        docs.select("doc_id", arr.alias("ws")).where(F.size("ws") > 0)
        .select(
            *[F.array_min(F.transform("ws", _minhash_col(k))).alias(f"o{k}")
              for k in range(8)],
            udf("ws").alias("h"))
    )
    cond = None
    for k in range(8):
        c = ~F.col(f"o{k}").eqNullSafe(F.col(f"h.h{k}"))
        cond = c if cond is None else cond | c
    assert d.where(cond).count() == 0


@pytest.mark.parametrize("bits,hexc", [(16, 4), (32, 8)])
def test_simhash_bitwise(spark, docs, bits, hexc):
    from lgid_spark.functions.texthash import make_simhash_udf
    from lgid_spark.queries.textops import _words

    wd = docs.select(
        "doc_id",
        F.explode(F.array_distinct(_words(F.col("text")))).alias("w"),
    ).withColumn(
        "wh", F.conv(F.substring(F.md5("w"), 1, hexc), 16, 10).cast("long"))
    bit_sums = [
        F.sum(F.when(
            F.shiftright(F.col("wh"), b).bitwiseAND(F.lit(1)) == 1,
            1).otherwise(-1)).alias(f"b{b}")
        for b in range(bits)
    ]
    agg = wd.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    old = agg.select("doc_id", sim.cast("bigint").alias("o"))

    udf = make_simhash_udf(bits, hexc)
    arr = F.array_distinct(_words(F.col("text")))
    new = (
        docs.select("doc_id", arr.alias("ws")).where(F.size("ws") > 0)
        .select("doc_id", udf("ws").alias("n"))
    )
    j = old.join(new, "doc_id", "full")
    assert j.where(
        F.col("o").isNull() | ~F.col("o").eqNullSafe(F.col("n"))).count() == 0


def test_sig_kernels_empty_batch():
    """An empty Arrow batch yields empty results, not a broadcast
    error between a (0, 0) matrix and the (dim,) sign rows."""
    import pandas as pd

    from lgid_spark.functions import vecfold as V
    from lgid_spark.queries.coverage import _DUP_SIGNS

    empty = pd.Series([], dtype=object)
    sn = V.make_sig_norm_udf(_DUP_SIGNS).func(empty)
    assert list(sn.columns) == ["sig", "norm"] and len(sn) == 0
    assert len(V.make_sig_udf(_DUP_SIGNS).func(empty)) == 0
    assert len(V.cos_seq_udf.func(empty, empty)) == 0
    assert len(V.d2_seq_udf.func(empty, empty)) == 0


def test_vecfold_null_rows_match_catalyst(spark, emb):
    """A NULL array row yields what the F.aggregate originals give —
    NULL folds, a 0 signature — and leaves the other rows of its batch
    bitwise unchanged."""
    from lgid_spark.functions import vecfold as V
    from lgid_spark.queries.coverage import (
        _DUP_SIGNS,
        _dot64,
        _dup_sig_col,
    )
    from lgid_spark.queries.similarity import DIM, _dot

    holed = emb.select(F.when(F.col("vec_id") % 3 != 0, F.col("embedding"))
                       .alias("embedding"))
    probes = emb.limit(3).select(F.col("embedding").alias("pvec"))
    pairs = holed.crossJoin(F.broadcast(probes))
    e, p = F.col("embedding"), F.col("pvec")
    old_d2 = F.aggregate(
        F.sequence(F.lit(1), F.lit(DIM)), F.lit(0.0),
        lambda acc, i: acc + (
            F.element_at(e, i).cast("double")
            - F.element_at(p, i).cast("double")) ** 2)
    sn = V.make_sig_norm_udf(_DUP_SIGNS)
    d = pairs.select(
        _dot(e, p).alias("od"), V.seq_dot_udf(e, p).alias("nd"),
        (_dot(e, p) / (F.sqrt(_dot(e, e)) * F.sqrt(_dot(p, p)))).alias("oc"),
        V.cos_seq_udf(e, p).alias("nc"),
        old_d2.alias("o2"), V.d2_seq_udf(e, p).alias("n2"),
        _dup_sig_col().alias("osig"), F.sqrt(_dot64(e, e)).alias("onorm"),
        sn(e).alias("s"),
    )
    assert d.where(F.col("od").isNull()).count() > 0
    mismatch = [("od", "nd"), ("oc", "nc"), ("o2", "n2"),
                ("osig", "s.sig"), ("onorm", "s.norm")]
    cond = None
    for o, n in mismatch:
        c = ~F.col(o).eqNullSafe(F.col(n))
        cond = c if cond is None else cond | c
    assert d.where(cond).count() == 0


def test_vecfold_ragged_rows_are_null():
    """A row of another width than the batch gives NULL folds instead
    of failing np.stack for the whole batch; the other rows keep their
    values."""
    import numpy as np
    import pandas as pd

    from lgid_spark.functions import vecfold as V
    from lgid_spark.queries.coverage import _DUP_SIGNS

    rng = np.random.default_rng(0)
    good = [rng.standard_normal(64).astype(np.float32) for _ in range(3)]
    short = good[0][:63]
    a = pd.Series([good[0], short, None, good[1]], dtype=object)
    b = pd.Series([good[2], good[2], good[2], short], dtype=object)
    want = V.seq_dot_udf.func(pd.Series([good[0]]), pd.Series([good[2]]))
    got = V.seq_dot_udf.func(a, b)
    assert got.isna().tolist() == [False, True, True, True]
    assert got[0] == want[0]
    for f in (V.cos_seq_udf.func, V.d2_seq_udf.func):
        assert f(a, b).isna().tolist() == [False, True, True, True]
    # the signature of such a row is 0, as the SQL CASE WHEN form gives
    sig = V.make_sig_udf(_DUP_SIGNS).func(a)
    sn = V.make_sig_norm_udf(_DUP_SIGNS).func(a)
    assert sig[0] != 0 and sig[1:3].tolist() == [0, 0]
    assert sn["sig"].tolist() == sig.tolist()
    assert sn["norm"].isna().tolist() == [False, True, True, False]


def test_texthash_cache_shared_across_pickled_tasks():
    """The word caches are process-level: each task unpickles its own
    copy of the UDF function, and every copy fills the module's one
    cache instead of a per-task dict pickled out of a closure."""
    import pandas as pd
    from pyspark import cloudpickle

    from lgid_spark.functions import texthash as H

    cases = [(H.make_minhash_udf(3, "t{k}|"), H._MINHASH_CACHE, (3, "t{k}|")),
             (H.make_simhash_udf(16, 4), H._SIMHASH_CACHE, (16, 4))]
    for udf, store, key in cases:
        f1, f2 = (cloudpickle.loads(cloudpickle.dumps(udf.func))
                  for _ in range(2))
        store.pop(key, None)
        f1(pd.Series([["alpha", "beta"]]))
        cache = store[key]
        assert set(cache) == {"alpha", "beta"}
        f2(pd.Series([["gamma"]]))
        assert store[key] is cache and set(cache) == {"alpha", "beta",
                                                      "gamma"}
