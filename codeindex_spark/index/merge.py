"""Posting-level index merge — the IndexWriter.addIndexes analog, and
the rewrite behind ``IncrementalIndex.merge_compact``.

Lucene lets independently built indexes be combined into one
serviceable index (IndexWriter.addIndexes(Directory...), public API
the reference inherits through Lucene.NET). That is the natural
distributed-build pattern at 10^12-file scale: shard the corpus,
build each shard's index as its own fault-isolated job (possibly on
different clusters / at different times), then merge the shard
indexes into one — without re-tokenizing anything. A segment merge
that drops deleted docs is the same operation over doc-disjoint
segments, so both go through ``merge_segments``.

Why the merge is cheap in this layout: docIDs are block-local
deltas (index/encoding.py), so shifting a whole source index by a
BLOCK-ALIGNED offset never touches a posting byte stream — the shift
is ``block_id += offset/block_size`` on the posting rows and
``doc_id += offset`` on the doc table, both pure column arithmetic.

One ``mapInPandas`` pass rewrites the posting rows:

- a row whose block holds no dead doc keeps its byte streams and gets
  a block-max refresh: BM25's tfnorm depends on the corpus avgdl,
  which changes when corpora combine or docs die, so
  ``block_max_tfnorm`` is recomputed from the decoded (tfs, dls) under
  the output stats (``encoding.bm25_tfnorm`` with a per-entry avgdl;
  WAND bounds stay exact, no conservative scaling);
- dead doc_ids are grouped per doc block and joined to the posting
  rows on block_id (no driver-side dead-id set), and only the rows
  that actually lose a doc are decoded, filtered and re-encoded.

The docs table drops the dead docs with one anti-join. The postings
are written range-partitioned like a build's, and the dictionary
and ``manifest/_finalized.json`` come from the same
``segments.finalize_index`` a build ends with: the dictionary is
summed from the written postings, so df/cf count live docs only.

The output is a first-class finalized index: IndexReader serves it,
check_index passes it, and scores are identical to an index built
over the (live) concatenated corpus in one job (same tokenizer, same
merged stats — pinned by test_merge_indexes.py and
test_streaming.py::test_merge_compact_equals_fresh_scores).
"""

from __future__ import annotations

import functools
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from codeindex_spark.index.build import POSTING_SCHEMA, IndexParams
from codeindex_spark.index.encoding import (
    bm25_tfnorm,
    decode_positions_rows,
    decode_rows_docs,
    decode_rows_values,
    encode_blocks_batch,
)
from codeindex_spark.index.segments import (
    DOC_COLUMNS,
    IndexPaths,
    IndexReader,
    _atomic_write_json,
    finalize_index,
    task_count,
    write_postings,
)

__all__ = ["merge_indexes", "merge_segments", "merged_stats"]

_MERGE_KEYS = ("fields", "block_size", "k1", "b", "positionless", "codec")

_POST_COLS = [f.name for f in POSTING_SCHEMA.fields]
_OUT_SCHEMA = T.StructType(
    POSTING_SCHEMA.fields + [T.StructField("group", T.IntegerType(), False)]
)
_OUT_COLS = _POST_COLS + ["group"]


def merged_stats(stats: list[pd.DataFrame]) -> pd.DataFrame:
    """Per-field stats of doc-disjoint indexes: exact integer
    n_docs/total_dl sums, avgdl = total/n as a single build plans it."""
    g = (
        pd.concat(stats, ignore_index=True)
        .groupby("field", as_index=False)
        .agg(n_docs=("n_docs", "sum"), total_dl=("total_dl", "sum"))
    )
    g["avgdl"] = (g["total_dl"] / g["n_docs"]).where(g["n_docs"] > 0, 0.0)
    return g[["field", "n_docs", "avgdl", "total_dl"]]


def _rewrite_kernel(avgdl_map: dict, params: IndexParams):
    """The posting rewrite: block-max refresh for rows that keep every
    doc, decode-filter-reencode for rows that lose one. doc_ids are
    unique across the merged index, so one batch-wide dead-id set is
    exact, and rows are unique per (field, term, block_id), so each
    re-encoded row stays one posting block."""
    k1, b, bsz, codec = params.k1, params.b, params.block_size, params.codec

    def refresh(pdf: pd.DataFrame) -> pd.DataFrame:
        n = pdf["n"].to_numpy(dtype=np.int64)
        tfs = decode_rows_values(list(pdf["tfs"]), n, codec)
        dls = decode_rows_values(list(pdf["dls"]), n, codec)
        avgdl = np.repeat(pdf["field"].map(avgdl_map).to_numpy(np.float64), n)
        tfn = bm25_tfnorm(tfs, dls, avgdl, k1, b)
        bmax = np.maximum.reduceat(tfn, np.cumsum(n) - n)
        return pdf.assign(block_max_tfnorm=bmax)[_OUT_COLS]

    def reencode(pdf: pd.DataFrame, dead: np.ndarray) -> pd.DataFrame:
        n = pdf["n"].to_numpy(dtype=np.int64)
        block_ids = pdf["block_id"].to_numpy(dtype=np.int64)
        docs = decode_rows_docs(list(pdf["docs_delta"]), n, block_ids, bsz, codec)
        tfs = decode_rows_values(list(pdf["tfs"]), n, codec)
        dls = decode_rows_values(list(pdf["dls"]), n, codec)
        pcounts, flat_pos = decode_positions_rows(
            list(pdf["pos_counts"]), list(pdf["pos_deltas"]), n, codec
        )
        positions = np.split(flat_pos, np.cumsum(pcounts)[:-1])
        keep = ~np.isin(docs, dead)
        kept = np.flatnonzero(keep)
        cols = encode_blocks_batch(
            np.repeat(pdf["field"].to_numpy(), n)[kept],
            np.repeat(pdf["term"].to_numpy(), n)[kept],
            np.repeat(block_ids, n)[kept],
            docs[kept],
            tfs[kept],
            dls[kept],
            [positions[i] for i in kept],
            avgdl_map,
            k1,
            b,
            bsz,
            codec,
        )
        alive = np.logical_or.reduceat(keep, np.cumsum(n) - n)
        return pd.DataFrame(cols).assign(group=pdf["group"].to_numpy()[alive])[
            _OUT_COLS
        ]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cand = pdf["dead_ids"].notna().to_numpy()
            lose = np.zeros(len(pdf), dtype=bool)
            dead = np.empty(0, dtype=np.int64)
            if cand.any():
                sub = pdf[cand]
                n = sub["n"].to_numpy(dtype=np.int64)
                docs = decode_rows_docs(
                    list(sub["docs_delta"]),
                    n,
                    sub["block_id"].to_numpy(dtype=np.int64),
                    bsz,
                    codec,
                )
                dead = np.concatenate(
                    [np.asarray(d, dtype=np.int64) for d in sub["dead_ids"]]
                )
                kill = np.isin(docs, dead)
                lose[cand] = np.logical_or.reduceat(kill, np.cumsum(n) - n)
            parts = [refresh(pdf[~lose])] if not lose.all() else []
            if lose.any():
                parts.append(reencode(pdf[lose], dead))
            parts = [p for p in parts if len(p)]
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return fn


def _shifted(cols: list[str], shift: dict) -> list:
    """``cols`` with the id columns in ``shift`` moved by their offset."""
    return [
        (F.col(c) + F.lit(shift[c])).alias(c) if c in shift else F.col(c)
        for c in cols
    ]


def merge_segments(
    spark: SparkSession,
    src_dirs: list[str],
    offsets: list[int],
    stats: pd.DataFrame,
    out_dir: str,
    dead: DataFrame | None = None,
) -> IndexReader:
    """Write the finalized index at ``out_dir`` that holds the docs of
    the doc-disjoint indexes at ``src_dirs``, source ``i`` shifted by
    the block-aligned docID offset ``offsets[i]``, minus the docs whose
    (shifted) ``doc_id`` is in ``dead``. ``stats`` are the output's
    per-field stats (``stats.parquet``); block-max tfnorms are
    recomputed under them. Sources must share every parameter that
    docIDs or scores depend on (``_MERGE_KEYS``). Source ``i``'s docs
    and postings land in group ``i``."""
    readers = [IndexReader(spark, d) for d in src_dirs]
    p0 = readers[0].params
    for r in readers[1:]:
        for key in _MERGE_KEYS:
            if getattr(r.params, key) != getattr(p0, key):
                raise ValueError(
                    f"source params disagree on {key}: "
                    f"{getattr(r.params, key)!r} != {getattr(p0, key)!r}"
                )
    bsz = p0.block_size
    out = IndexPaths(out_dir)
    os.makedirs(out.manifest_dir, exist_ok=True)
    stats.to_parquet(out.stats, index=False)
    avgdl_map = {str(f): float(a) for f, a in zip(stats["field"], stats["avgdl"])}
    tokens = float(stats["total_dl"].sum())

    docs, posts = [], []
    for i, (r, off) in enumerate(zip(readers, offsets)):
        group = F.lit(i).cast("int").alias("group")
        shift = {"doc_id": off, "block_id": off // bsz}
        docs.append(r.docs.select(*_shifted(DOC_COLUMNS, shift), group))
        posts.append(r.postings.select(*_shifted(_POST_COLS, shift), group))
    docs = functools.reduce(DataFrame.unionByName, docs)
    posts = functools.reduce(DataFrame.unionByName, posts)
    if dead is None:
        posts = posts.withColumn("dead_ids", F.lit(None).cast("array<long>"))
    else:
        docs = docs.join(dead.select("doc_id"), "doc_id", "left_anti")
        dead_by_block = dead.groupBy(
            (F.col("doc_id") / bsz).cast("long").alias("block_id")
        ).agg(F.collect_list("doc_id").alias("dead_ids"))
        posts = posts.join(dead_by_block, "block_id", "left")

    docs.select(*DOC_COLUMNS, "group").write.mode("overwrite").partitionBy(
        "group"
    ).parquet(out.docs)
    write_postings(
        posts.mapInPandas(_rewrite_kernel(avgdl_map, p0), schema=_OUT_SCHEMA),
        out.postings,
        task_count(tokens, max(spark.sparkContext.defaultParallelism, 4)),
        ("group", "field"),
    )
    _atomic_write_json(out.params, p0.to_dict())
    finalize_index(spark, out, tokens, n_groups=len(src_dirs))
    return IndexReader(spark, out_dir)


def merge_indexes(
    spark: SparkSession, src_dirs: list[str], out_dir: str
) -> IndexReader:
    """Merge finalized indexes at ``src_dirs`` into a new index at
    ``out_dir``: each source is shifted past the block-aligned doc span
    of the ones before it, and the stats are summed. Sources must share
    every parameter that docIDs or scores depend on (fields,
    block_size, k1/b, positionless, codec). Returns a reader over the
    merged index."""
    if len(src_dirs) < 2:
        raise ValueError("merge_indexes needs at least two sources")
    readers = [IndexReader(spark, d) for d in src_dirs]
    bsz = readers[0].params.block_size
    spans = [
        r.docs.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).collect()[0]
        for r in readers
    ]
    offsets: list[int] = []
    nxt = 0
    for s in spans:
        if s["lo"] is None:
            raise ValueError("cannot merge an empty index")
        if s["lo"] < 0:
            raise ValueError("negative doc_id in source index")
        offsets.append(nxt)
        nxt += -(-(int(s["hi"]) + 1) // bsz) * bsz  # block-aligned span
    merged = merge_segments(
        spark,
        src_dirs,
        offsets,
        merged_stats([r.stats for r in readers]),
        out_dir,
    )
    # merge lineage: sources, offsets, spans
    _atomic_write_json(
        os.path.join(merged.paths.manifest_dir, "_merge.json"),
        {
            "status": "committed",
            "sources": [os.path.abspath(d) for d in src_dirs],
            "offsets": offsets,
            "spans": [{"lo": int(s["lo"]), "hi": int(s["hi"])} for s in spans],
        },
    )
    return merged
