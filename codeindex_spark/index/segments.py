"""Segmented index layout on disk + resumable build orchestration.

Layout under ``index_dir/``:

    params.json                 — IndexParams (docIDs depend on these)
    offsets.parquet             — bucket -> base doc_id (planning step)
    stats.parquet               — per-field n_docs / avgdl / total_dl
    docs/group=G/*.parquet      — doc table rows for bucket group G
    postings/group=G/field=F/   — posting blocks, term-range-sorted
    manifest/group_G.json       — per-group commit record with lineage
                                  (sha checksum) + metrics (files/sec)
    term_dict.parquet           — global term dictionary (finalize)
    hints.parquet               — hint words (finalize)
    manifest/_finalized.json

Resume semantics mirror the reference's initialize-reconcile
(/root/reference/src/CodeIndex.MaintainIndex/IndexMaintainer.cs:272-369):
a group with a committed manifest entry is skipped on restart; the
planning artifacts (offsets/stats) are computed once and reused so a
resumed build assigns identical docIDs. "Commit" is an atomic
temp-file + rename of the manifest record, written only after the
group's parquet is fully materialized — the Spark analog of
LucenePoolLight.Commit (LucenePoolLight.cs:206-210).

Bucket groups are the resumability/lineage granularity required by
BASELINE.json north_rule ("resumable from checkpoint with
per-partition lineage + metrics"). At 10^12-file scale each group is
an independent Spark job over ~1/G of the corpus.
"""

from __future__ import annotations

import json
import os
import time
import dataclasses
import functools
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codeindex_spark.index import docids
from codeindex_spark.index.build import (
    IndexParams,
    build_postings,
    compute_plan,
    default_num_buckets,
    hints_from_term_dict,
    prepare_docs,
    term_dict_from_postings,
    token_rows,
)

DOC_COLUMNS = [
    "doc_id",
    "bucket",
    "repo",
    "path",
    "commit",
    "lang",
    "file_name",
    "file_ext",
    "doc_key",
    "content_sha256",
    "content",
]


from codeindex_spark.util import ensure_parallelism as _ensure_parallelism


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


@dataclass
class IndexPaths:
    root: str

    @property
    def params(self) -> str:
        return os.path.join(self.root, "params.json")

    @property
    def offsets(self) -> str:
        return os.path.join(self.root, "offsets.parquet")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.parquet")

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.root, "manifest")

    @property
    def term_dict(self) -> str:
        return os.path.join(self.root, "term_dict.parquet")

    @property
    def hints(self) -> str:
        return os.path.join(self.root, "hints.parquet")

    def group_manifest(self, g: int) -> str:
        return os.path.join(self.manifest_dir, f"group_{g}.json")

    @property
    def finalized_marker(self) -> str:
        return os.path.join(self.manifest_dir, "_finalized.json")


class IndexBuilder:
    """Resumable, group-at-a-time index build."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        params: IndexParams = IndexParams(),
        n_groups: int = 4,
    ):
        if params.num_buckets is None:
            # resolve the scale-adaptive default ONCE, preferring the
            # value pinned in an existing index (docIDs depend on it —
            # a resume on a differently-sized cluster must not drift)
            stored = os.path.join(index_dir, "params.json")
            if os.path.exists(stored):
                nb = json.load(open(stored))["num_buckets"]
            else:
                nb = default_num_buckets(spark, n_groups)
            params = dataclasses.replace(params, num_buckets=nb)
        if params.num_buckets % n_groups != 0:
            raise ValueError("num_buckets must be divisible by n_groups")
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.params = params
        self.n_groups = n_groups
        os.makedirs(self.paths.manifest_dir, exist_ok=True)

    # ---------- planning ----------

    def plan(self, docs_raw: DataFrame) -> pd.DataFrame:
        """Compute (or reload) offsets + stats; freeze params.

        Planning artifacts pin docIDs and BM25 normalization: a resumed
        build MUST reuse them, otherwise doc_ids / scores drift.
        """
        if os.path.exists(self.paths.params):
            stored = json.load(open(self.paths.params))
            # normalize through from_dict so params.json written before
            # a new defaulted field existed (e.g. codec) still resumes
            if IndexParams.from_dict(stored).to_dict() != self.params.to_dict():
                raise ValueError(
                    "index params changed vs existing index; "
                    "delete the index dir to rebuild"
                )
            offsets = pd.read_parquet(self.paths.offsets)
            return offsets
        docs = prepare_docs(docs_raw)
        offsets, stats = compute_plan(
            _ensure_parallelism(docs),
            self.params.fields,
            self.params.num_buckets,
            self.params.block_size,
            base_doc_id=self.params.base_doc_id,
        )
        offsets.to_parquet(self.paths.offsets, index=False)
        stats.to_parquet(self.paths.stats, index=False)
        _atomic_write_json(self.paths.params, self.params.to_dict())
        return offsets

    # ---------- per-group build ----------

    def committed_groups(self) -> set[int]:
        out = set()
        for g in range(self.n_groups):
            p = self.paths.group_manifest(g)
            if os.path.exists(p):
                rec = json.load(open(p))
                if rec.get("status") == "committed":
                    out.add(g)
        return out

    def write_docs(self, docs_raw: DataFrame, offsets: pd.DataFrame) -> None:
        """Stage 0 (one job): assign docIDs to the WHOLE corpus and
        write the docs table partitioned by bucket group. The docID
        window runs exactly once — groups then read their partition
        pruned slice. Resumable via the _docs marker; a partial write
        is simply redone (cheap relative to tokenize+encode)."""
        marker = os.path.join(self.paths.manifest_dir, "_docs.json")
        if os.path.exists(marker):
            return
        docs = prepare_docs(docs_raw)
        docs = docids.assign_doc_ids(docs, offsets, self.params.num_buckets)
        docs = docs.withColumn(
            "group", (F.col("bucket") % self.n_groups).cast("int")
        )
        # no repartition before the write: the docID window already
        # hash-partitioned the table by bucket, and group = bucket %
        # n_groups, so each task holds whole buckets and the
        # partitionBy writer splits them into their group dirs
        # directly — the old repartition(group, bucket) was a SECOND
        # full exchange of the content-bearing table (plan audited:
        # Exchange hashpartitioning(bucket) + Exchange
        # hashpartitioning(group, bucket) back to back)
        (
            docs.select(*DOC_COLUMNS, "group")
            .write.mode("overwrite")
            .partitionBy("group")
            .parquet(self.paths.docs)
        )
        _atomic_write_json(marker, {"status": "committed"})

    def build_group(
        self, docs_raw: DataFrame, offsets: pd.DataFrame, g: int
    ) -> dict:
        t0 = time.monotonic()
        params = self.params
        stats = pd.read_parquet(self.paths.stats)
        self.write_docs(docs_raw, offsets)  # no-op once committed

        # partition-pruned scan of this group's docs (written by
        # write_docs); lineage checksum comes from durable bytes
        persisted = self.spark.read.parquet(self.paths.docs).filter(
            F.col("group") == g
        )
        tokens = token_rows(
            _ensure_parallelism(persisted), params.fields, params.positionless
        )
        from pyspark import StorageLevel

        # Persist the encoded blocks before the range exchange: a
        # RangePartitioning exchange SAMPLES its child to pick bounds,
        # and that sample job re-executes the whole post-shuffle
        # chain (partition sort + Arrow encode kernel) a second time.
        # With the cache, tokenize+encode runs exactly once and the
        # sample + main exchange read compressed posting blocks from
        # cache. MEMORY_AND_DISK: blocks are the SMALLEST form of the
        # data (delta+varint/FOR-packed), far smaller than the token
        # rows that produced them, so caching them is strictly
        # cheaper than recomputing the encode at any scale.
        postings = build_postings(tokens, stats, params).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        post_out = os.path.join(self.paths.postings, f"group={g}")
        try:
            (
                postings.repartitionByRange(
                    max(self.spark.sparkContext.defaultParallelism, 4),
                    "field",
                    "term",
                    "block_id",
                )
                .sortWithinPartitions("field", "term", "block_id")
                .write.mode("overwrite")
                .partitionBy("field")
                .parquet(post_out)
            )
        finally:
            postings.unpersist()

        summary = persisted.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.expr("bit_xor(xxhash64(content_sha256))").alias("sha_checksum"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        ).collect()[0]
        dt = time.monotonic() - t0
        rec = {
            "group": g,
            "status": "committed",
            "n_files": summary["n_files"],
            "sha_checksum": str(summary["sha_checksum"]),
            "min_doc_id": summary["min_doc_id"],
            "max_doc_id": summary["max_doc_id"],
            "build_seconds": round(dt, 3),
            "files_per_sec": round((summary["n_files"] or 0) / dt, 2),
            "params": params.to_dict(),
        }
        _atomic_write_json(self.paths.group_manifest(g), rec)
        return rec

    # ---------- finalize ----------

    def finalize(self) -> None:
        from pyspark import StorageLevel

        postings = self.spark.read.parquet(self.paths.postings)
        # persist the aggregated dictionary before the range exchange:
        # the range sampler re-executes its child, which here is the
        # full posting scan + groupBy — cached, that runs once (same
        # fix as the posting write in build_group)
        term_dict = term_dict_from_postings(postings).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # field=dir partitioning + term sort: a content-field lookup
        # never touches the (much larger) file_name/file_path
        # dictionaries, and prefix ranges prune row groups
        try:
            term_dict.repartitionByRange(
                max(self.spark.sparkContext.defaultParallelism // 2, 2),
                "field",
                "term",
            ).sortWithinPartitions("term").write.mode("overwrite").partitionBy(
                "field"
            ).parquet(self.paths.term_dict)
        finally:
            term_dict.unpersist()
        hints = hints_from_term_dict(self.spark.read.parquet(self.paths.term_dict))
        hints.coalesce(4).write.mode("overwrite").parquet(self.paths.hints)
        _atomic_write_json(
            self.paths.finalized_marker,
            {"status": "finalized", "n_groups": self.n_groups},
        )

    def is_finalized(self) -> bool:
        return os.path.exists(self.paths.finalized_marker)

    # ---------- end-to-end ----------

    def build(self, docs_raw: DataFrame, resume: bool = True) -> list[dict]:
        """Full build. With resume=True, committed groups are skipped
        and planning artifacts are reused — restarting after a crash
        produces a byte-identical index."""
        if not resume:
            import shutil

            for sub in (
                self.paths.docs,
                self.paths.postings,
                self.paths.manifest_dir,
                self.paths.term_dict,
                self.paths.hints,
            ):
                shutil.rmtree(sub, ignore_errors=True)
            for f in (self.paths.params, self.paths.offsets, self.paths.stats):
                if os.path.exists(f):
                    os.remove(f)
            os.makedirs(self.paths.manifest_dir, exist_ok=True)
        offsets = self.plan(docs_raw)
        self.write_docs(docs_raw, offsets)
        done = self.committed_groups() if resume else set()
        todo = [g for g in range(self.n_groups) if g not in done]
        # Groups are independent jobs over disjoint doc partitions;
        # submitting them concurrently (Spark schedules jobs from
        # multiple threads within one session) overlaps their fixed
        # stage/driver overhead and fills scheduler gaps — resumability
        # is unchanged: each group still commits its own manifest.
        records = []
        if len(todo) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(len(todo), 4)) as ex:
                records = list(
                    ex.map(
                        lambda g: self.build_group(docs_raw, offsets, g),
                        todo,
                    )
                )
        else:
            records = [self.build_group(docs_raw, offsets, g) for g in todo]
        if not self.is_finalized() or records:
            self.finalize()
        return records


class IndexReader:
    """Query-side handle: a point-in-time view of a finalized index
    directory.

    ``params`` is read at open; each table frame (``docs``,
    ``postings``, ``term_dict``, ``hints``) and ``stats`` is opened on
    first access and then held, so a query does not re-run Parquet
    schema inference and file listing per access. The held frames
    keep the file listing they were opened with: reopen the reader
    after rebuilding or compacting its directory."""

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.params = IndexParams.from_dict(json.load(open(self.paths.params)))

    @functools.cached_property
    def docs(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.docs)

    @functools.cached_property
    def postings(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.postings)

    @functools.cached_property
    def term_dict(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.term_dict)

    @functools.cached_property
    def hints(self) -> DataFrame:
        return self.spark.read.parquet(self.paths.hints)

    @functools.cached_property
    def stats(self) -> pd.DataFrame:
        return pd.read_parquet(self.paths.stats)

    def field_stats(self, field: str) -> tuple[int, float]:
        row = self.stats[self.stats["field"] == field]
        if row.empty:
            raise KeyError(f"no stats for field {field!r}")
        return int(row["n_docs"].iloc[0]), float(row["avgdl"].iloc[0])
