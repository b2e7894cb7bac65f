"""Cross-index merge — the IndexWriter.addIndexes analog.

Lucene lets independently built indexes be combined into one
serviceable index (IndexWriter.addIndexes(Directory...), public API
the reference inherits through Lucene.NET). That is the natural
distributed-build pattern at 10^12-file scale: shard the corpus,
build each shard's index as its own fault-isolated job (possibly on
different clusters / at different times), then merge the shard
indexes into one — without re-tokenizing anything.

Why the merge is cheap in this layout: docIDs are block-local
deltas (index/encoding.py), so shifting a whole source index by a
BLOCK-ALIGNED offset never touches a posting byte stream — the shift
is ``block_id += offset/block_size`` on the posting rows and
``doc_id += offset`` on the doc table, both pure column arithmetic.
The only decode in the merge is the block-max rescale: BM25's tfnorm
depends on the corpus avgdl, which changes when corpora combine, so
``block_max_tfnorm`` is recomputed from the decoded (tfs, dls) under
the merged stats in ONE mapInPandas pass (same batch decoders as the
query kernels; WAND bounds stay exact, no conservative scaling).
Dictionary df/cf merge by summation (sources are doc-disjoint by
construction), stats merge by exact total_dl/n_docs sums, and hints
are re-derived from the merged dictionary.

The output is a first-class finalized index: IndexReader serves it,
check_index passes it, and scores are identical to an index built
over the concatenated corpus in one job (same tokenizer, same merged
stats — pinned by test_merge_indexes.py rank/score identity).

Shuffle shape: the posting rewrite is map-only until the final
layout write (one repartitionByRange on (field, term, block_id) per
the standard layout); the dictionary merge is one vocabulary-keyed
groupBy. Nothing is collected but the per-source doc spans (one
2-value aggregate row per source).
"""

from __future__ import annotations

import json
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from codeindex_spark.index.build import (
    IndexParams,
    hints_from_term_dict,
)
from codeindex_spark.index.encoding import (
    bm25_tfnorm,
    decode_rows_values,
)
from codeindex_spark.index.segments import (
    DOC_COLUMNS,
    IndexPaths,
    IndexReader,
    _atomic_write_json,
    read_table,
)

__all__ = ["merge_indexes"]

_MERGE_KEYS = ("fields", "block_size", "k1", "b", "positionless", "codec")


def _rescale_kernel(avgdl_map: dict, k1: float, b: float, codec: str):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = np.empty(len(pdf), dtype=np.float64)
            pos = pd.Series(np.arange(len(pdf)), index=pdf.index)
            for field, g in pdf.groupby("field", sort=False):
                n = g["n"].to_numpy(dtype=np.int64)
                tfs = decode_rows_values(list(g["tfs"]), n, codec)
                dls = decode_rows_values(list(g["dls"]), n, codec)
                tfn = bm25_tfnorm(tfs, dls, avgdl_map[str(field)], k1, b)
                starts = np.concatenate(([0], np.cumsum(n)[:-1]))
                out[pos[g.index].to_numpy()] = np.maximum.reduceat(
                    tfn, starts
                )
            pdf = pdf.copy()
            pdf["block_max_tfnorm"] = out
            yield pdf

    return fn


def merge_indexes(
    spark: SparkSession, src_dirs: list[str], out_dir: str
) -> IndexReader:
    """Merge finalized indexes at ``src_dirs`` into a new index at
    ``out_dir``. Sources must share every parameter that docIDs or
    scores depend on (fields, block_size, k1/b, positionless, codec).
    Returns a reader over the merged index."""
    if len(src_dirs) < 2:
        raise ValueError("merge_indexes needs at least two sources")
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

    # per-source doc span -> block-aligned docID offsets
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

    out = IndexPaths(out_dir)
    os.makedirs(out.manifest_dir, exist_ok=True)

    # ---- stats: exact sums, avgdl recomputed with the same float op
    # the single-build plan uses (total/n)
    stat_frames = [r.stats for r in readers]
    cat = pd.concat(stat_frames, ignore_index=True)
    merged = (
        cat.groupby("field", as_index=False)
        .agg(n_docs=("n_docs", "sum"), total_dl=("total_dl", "sum"))
        .sort_values("field", ignore_index=True)
    )
    merged["avgdl"] = merged.apply(
        lambda r_: (r_["total_dl"] / r_["n_docs"]) if r_["n_docs"] else 0.0,
        axis=1,
    )
    merged = merged[["field", "n_docs", "avgdl", "total_dl"]]
    merged.to_parquet(out.stats, index=False)
    avgdl_map = {
        str(k): float(v) for k, v in zip(merged["field"], merged["avgdl"])
    }

    # ---- docs: shift doc_id, tag each source as its own group
    docs = None
    for i, r in enumerate(readers):
        d = r.docs.select(
            (F.col("doc_id") + F.lit(offsets[i])).alias("doc_id"),
            *[c for c in DOC_COLUMNS if c != "doc_id"],
            F.lit(i).cast("int").alias("group"),
        )
        docs = d if docs is None else docs.unionByName(d)
    (
        docs.repartition(F.col("group"), F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("group")
        .parquet(out.docs)
    )

    # ---- postings: block-id shift (byte streams untouched) + exact
    # block-max rescale under the merged avgdl
    post_cols = [
        "field",
        "term",
        "block_id",
        "n",
        "cf",
        "docs_delta",
        "tfs",
        "dls",
        "pos_counts",
        "pos_deltas",
        "block_max_tfnorm",
    ]
    posts = None
    for i, r in enumerate(readers):
        pdf = r.postings.select(
            *[
                (F.col("block_id") + F.lit(offsets[i] // bsz)).alias(
                    "block_id"
                )
                if c == "block_id"
                else F.col(c)
                for c in post_cols
            ],
            F.lit(i).cast("int").alias("group"),
        )
        posts = pdf if posts is None else posts.unionByName(pdf)
    rescaled = posts.mapInPandas(
        _rescale_kernel(avgdl_map, p0.k1, p0.b, p0.codec),
        schema=posts.schema,
    )
    (
        rescaled.repartitionByRange(
            max(spark.sparkContext.defaultParallelism, 4),
            "field",
            "term",
            "block_id",
        )
        .sortWithinPartitions("field", "term", "block_id")
        .write.mode("overwrite")
        .partitionBy("group", "field")
        .parquet(out.postings)
    )

    # ---- dictionary: sum df/cf (sources are doc-disjoint); hints
    # re-derived from the merged dictionary
    td = None
    for r in readers:
        t = r.term_dict.select("field", "term", "df", "cf")
        td = t if td is None else td.unionByName(t)
    td = td.groupBy("field", "term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    td.repartitionByRange(
        max(spark.sparkContext.defaultParallelism // 2, 2), "field", "term"
    ).sortWithinPartitions("term").write.mode("overwrite").partitionBy(
        "field"
    ).parquet(out.term_dict)
    hints = hints_from_term_dict(read_table(spark, "term_dict", out.term_dict))
    hints.coalesce(4).write.mode("overwrite").parquet(out.hints)

    # ---- params + manifest (merge lineage: sources, offsets, spans)
    _atomic_write_json(out.params, p0.to_dict())
    _atomic_write_json(
        os.path.join(out.manifest_dir, "_merge.json"),
        {
            "status": "committed",
            "sources": [os.path.abspath(d) for d in src_dirs],
            "offsets": offsets,
            "spans": [
                {"lo": int(s["lo"]), "hi": int(s["hi"])} for s in spans
            ],
        },
    )
    _atomic_write_json(
        out.finalized_marker,
        {"status": "finalized", "n_groups": len(src_dirs)},
    )
    return IndexReader(spark, out_dir)
