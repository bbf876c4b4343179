"""Seeded workload inputs, cached on disk under a content-keyed name.

The engine only ever sees the generated data. ``datagen.row(i)`` is a
pure md5 function of ``i``, so the seed picks the index window of the
crawl slice; for the IGT corpus it picks the doc-id offset and the
language rotation. A cache entry's name holds the seed, the size and a
hash of every source file the data depends on, so editing the
generator can never serve a stale input.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_cache"

_CRAWL_FILES = 8

# sources the generated inputs are a function of
_INPUT_SOURCES = [
    ROOT / "lgid_spark" / "datagen.py",
    ROOT / "lgid_spark" / "lexicons.py",
    ROOT / "lgid_spark" / "fixtures.py",
    HERE / "inputs.py",
]


def source_hash(paths: list[Path]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def cached(name: str, build) -> Path:
    """Path of cache entry ``name``; ``build(tmp_path)`` fills it the
    first time. The entry appears atomically (rename), so a killed run
    never leaves a half-written input behind."""
    path = CACHE / name
    if path.exists():
        return path
    CACHE.mkdir(exist_ok=True)
    tmp = CACHE / f".tmp-{name}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    build(tmp)
    os.rename(tmp, path)
    return path


# ---------------------------------------------------------------------------
# crawl slice
# ---------------------------------------------------------------------------

NEAR_SUFFIX = "/mirror"


def near_twin(i: int, base: dict) -> dict:
    """A near-duplicate of page ``i`` under its own url: the text with
    its first line repeated at the end. The bytes differ, so exact dedup
    keeps both, but the word set is the same, so the pair has Jaccard
    1.0 and near-dup detection must drop the twin (its url sorts after
    the original's)."""
    from lgid_spark import datagen as D

    text = base["text"] + "\n" + base["text"].split("\n", 1)[0]
    return dict(base, url=base["url"] + NEAR_SUFFIX, text=text,
                html=D.html_for(i, text),
                warc_ts=base["warc_ts"] + dt.timedelta(hours=2))


def crawl_pages_path(seed: int, n: int, dup_every: int = 0,
                     near_every: int = 0) -> Path:
    """Parquet web_pages slice: base pages ``seed*n .. seed*n+n-1`` plus
    a messy-url exact twin of every ``dup_every``-th page and a
    near-duplicate twin (see :func:`near_twin`) of every
    ``near_every``-th page, offset by one; 0 turns either off.
    Generated in this process, so making the input never runs a Spark
    job that would warm the session."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lgid_spark import datagen as D

    name = (f"crawl-s{seed}-n{n}-d{dup_every}-nd{near_every}-"
            f"{source_hash(_INPUT_SOURCES)}")

    def build(tmp: Path) -> None:
        rows = []
        for i in range(seed * n, seed * n + n):
            base = D.row(i)
            rows.append(base)
            if dup_every and i % dup_every == 0:
                rows.append(dict(
                    base, url=D.messy_url_for(i),
                    warc_ts=base["warc_ts"] + dt.timedelta(hours=1)))
            if near_every and i % near_every == 1:
                rows.append(near_twin(i, base))
        df = pd.DataFrame(rows, columns=D.WEB_PAGES_COLUMNS)
        tmp.mkdir()
        # several files, as a crawl dump has: the scan splits across cores
        step = -(-len(df) // _CRAWL_FILES)
        for k in range(0, len(df), step):
            pq.write_table(
                pa.Table.from_pandas(df[k:k + step], preserve_index=False),
                tmp / f"part-{k // step:03d}.parquet", coerce_timestamps="us")

    return cached(name, build)


# ---------------------------------------------------------------------------
# IGT corpus
# ---------------------------------------------------------------------------

def igt_lines_path(spark, seed: int, n_docs: int) -> Path:
    """Freki-shaped IGT lines, 4 per doc (O, L, G, L): the O line names
    the doc's language and a neighbour, the two L lines carry the gold
    (name, code). Docs are numbered from ``seed*n_docs`` and the
    language of doc ``id`` is entry ``(id + seed) % n_langs`` of the
    fixture table, so the seed moves both the ids and the rotation."""
    from pyspark.sql import functions as F

    from lgid_spark.fixtures import LANG_TABLE

    name = f"igt-s{seed}-n{n_docs}-{source_hash(_INPUT_SOURCES)}"
    langs = [(nm, cs[0]) for nm, cs in sorted(LANG_TABLE.items())]
    k = len(langs)

    def build(tmp: Path) -> None:
        names = F.array(*[F.lit(nm) for nm, _ in langs])
        codes = F.array(*[F.lit(c) for _, c in langs])
        d = spark.range(seed * n_docs, seed * n_docs + n_docs, 1, 4)
        rot = (F.col("id") + seed) % k
        idx, other = (rot + 1).cast("int"), ((rot + 1) % k + 1).cast("int")
        doc = F.concat(F.lit("doc"), F.col("id")).alias("doc_id")
        name_c, code_c = F.element_at(names, idx), F.element_at(codes, idx)
        null = F.lit(None).cast("string")

        def line(lineno, tag, span, lang, text):
            return d.select(
                doc, F.lit(lineno).alias("lineno"), F.lit(tag).alias("tag"),
                (F.lit(span) if span else null).alias("span_id"),
                (name_c if lang else null).alias("lang_name"),
                (code_c if lang else null).alias("lang_code"),
                text.alias("text"))

        frames = [
            line(1, "O", None, False, F.concat(
                F.lit("field notes on the "), name_c,
                F.lit(" language near "), F.element_at(names, other))),
            line(2, "L", "s1", True, F.concat(
                F.lit("ex am ple line "), (F.col("id") % 97).cast("string"))),
            line(3, "G", "s1", False, F.lit("example gloss line")),
            line(4, "L", "s2", True, F.concat(
                F.lit("an other ex am ple "),
                (F.col("id") % 89).cast("string"))),
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        out.write.parquet(str(tmp))

    return cached(name, build)
