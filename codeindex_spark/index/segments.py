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
    manifest/_finalized.json

Hint words are not a table: ``IndexReader.hints`` filters the
dictionary's ``content_cs`` slice (``hints_from_term_dict``). An index
written when finalize still wrote ``hints.parquet`` reads the same
hints; the leftover file is ignored.

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

Step sizes come from the plan. One rule (``task_count``) gives every
split/partition count of a build: the tokenize input split, the
(field, term, block_id) posting shuffle and the posting and
dictionary range exchanges. It asks for one task per
``TOKENS_PER_TASK`` tokens of the step's input, capped at the fixed
count each step used before (so a large build keeps that shape). The
token count is read from the plan's artifacts — ``stats.parquet``
``total_dl``, scaled by the group's share of the ``offsets.parquet``
``n_docs`` — so a resumed build derives the same counts. A small
input (an incremental delta) gets 1: a one-partition range exchange
takes no sample, and the encoded blocks are cached only when a
sampler would otherwise re-run the encode.

Engine tables are opened with declared schemas (``TABLE_SCHEMAS``,
``read_table``): ``docs``, ``postings``, ``term_dict`` and the
incremental index's ``tombstones``. A read
then lists files but runs no footer-inference job. The declared
schema must match what the writers produce, partition columns last in
directory order: a column added to a table's writer must be added to
its schema too, or it reads as NULL
(``tests/test_streaming.py::test_declared_schemas_match_written_tables``).

Exact-term dictionary lookups run on the driver, not in Spark: a
reader holds its dictionary as a pyarrow dataset too
(``term_dict_dataset``), and ``term_dfs`` reads the wanted
``(field, term)`` rows through it — the field directory prunes to one
field's files and the term-sorted row groups' min/max stats skip the
rest, so a lookup reads a few KB and launches no job. Lookups that
slice the vocabulary (wildcard, regexp, fuzzy, range expansions,
hints, top terms) stay on the Spark ``term_dict`` frame.
"""

from __future__ import annotations

import json
import os
import time
import dataclasses
import functools
from dataclasses import dataclass

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from codeindex_spark.index import docids
from codeindex_spark.index.build import (
    POSTING_SCHEMA,
    IndexParams,
    build_postings,
    compute_plan,
    default_num_buckets,
    hints_from_term_dict,
    prepare_docs,
    term_dict_from_postings,
    token_rows,
)
from codeindex_spark.util import ensure_parallelism

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


def _schema(cols) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in cols])


_STR, _INT, _LONG = T.StringType(), T.IntegerType(), T.LongType()

# Declared schema of every engine table, as Spark infers it from the
# written files: all columns nullable, partition columns last in
# directory order (docs/group=G, postings/group=G/field=F,
# term_dict.parquet/field=F).
TABLE_SCHEMAS = {
    "docs": _schema(
        [("doc_id", _LONG), ("bucket", _INT)]
        + [(c, _STR) for c in DOC_COLUMNS[2:]]
        + [("group", _INT)]
    ),
    "postings": _schema(
        [(f.name, f.dataType) for f in POSTING_SCHEMA.fields if f.name != "field"]
        + [("group", _INT), ("field", _STR)]
    ),
    "term_dict": _schema(
        [("term", _STR), ("df", _LONG), ("cf", _LONG), ("field", _STR)]
    ),
    # incremental index (streaming/maintain.py); files written before
    # epochs existed lack the column, which then reads as NULL
    "tombstones": _schema([("doc_key", _STR), ("epoch", _INT)]),
}


def read_table(spark: SparkSession, table: str, path: str) -> DataFrame:
    """Open engine table ``table`` (a ``TABLE_SCHEMAS`` key) at
    ``path`` with its declared schema: no footer-inference job
    (~15-30 ms warm instead of ~95-145 ms plus a one-task job)."""
    return spark.read.schema(TABLE_SCHEMAS[table]).parquet(path)


def term_dict_dataset(paths: list[str]) -> pads.Dataset:
    """The dictionaries at ``paths`` (``term_dict.parquet`` dirs,
    hive-partitioned by ``field``) as one pyarrow dataset; the file
    listing is taken now, like a Spark frame's."""
    schema = pa.schema(
        [("term", pa.string()), ("df", pa.int64()), ("cf", pa.int64()),
         ("field", pa.string())]
    )
    part = pads.partitioning(pa.schema([("field", pa.string())]), flavor="hive")
    return pads.dataset(
        [pads.dataset(p, schema=schema, format="parquet", partitioning=part)
         for p in paths]
    )


TOKENS_PER_TASK = 250_000
"""Build-step work target per task, in tokens (``total_dl`` summed over
fields). On the 4-core host, the Arrow tokenize + block-encode kernels
run at ~660k tokens/s on one core (a 1500-doc corpus: ~0.92M tokens,
0.65 s tokenize + 0.74 s encode), and a Python task costs ~145 ms
against ~50 ms for a JVM-only one. 250k tokens is ~0.4 s of kernel
time, four times that ~100 ms per-task surcharge. A 500-doc index
(~0.24M tokens) and each group of a 1500-doc index in 4 groups get one
task per step."""


def task_count(tokens: float, cap: int) -> int:
    """Tasks for a build step over ``tokens`` tokens: one per
    ``TOKENS_PER_TASK``, at least 1, at most ``cap`` (the step's fixed
    count before sizing, so large builds keep their shape)."""
    return max(1, min(int(cap), -(-int(tokens) // TOKENS_PER_TASK)))


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
    os.replace(tmp, path)


def write_postings(
    postings: DataFrame, path: str, n_ranges: int, partition_by: tuple
) -> None:
    """Write posting blocks in the standard layout: ``n_ranges``
    (field, term, block_id) ranges, sorted within each, partitioned by
    the ``partition_by`` columns."""
    if n_ranges > 1:
        from pyspark import StorageLevel

        # Persist the blocks before the range exchange: a
        # RangePartitioning exchange over more than one partition
        # SAMPLES its child to pick bounds, and that sample job
        # re-executes the whole chain that made the blocks (a build's
        # partition sort + Arrow encode kernel, a merge's rewrite
        # kernel) a second time. With the cache it runs exactly once.
        # MEMORY_AND_DISK: blocks are the SMALLEST form of the data,
        # far smaller than the token rows that produced them.
        postings = postings.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        (
            postings.repartitionByRange(n_ranges, "field", "term", "block_id")
            .sortWithinPartitions("field", "term", "block_id")
            .write.mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(path)
        )
    finally:
        postings.unpersist()


def finalize_index(
    spark: SparkSession, paths: IndexPaths, tokens: float, n_groups: int
) -> None:
    """The tail of every index writer (a build, a merge): the term
    dictionary summed from the WRITTEN postings and the
    ``_finalized.json`` marker. Step sizes come from ``task_count``
    over the index's ``tokens``."""
    n_ranges = task_count(
        tokens, max(spark.sparkContext.defaultParallelism // 2, 2)
    )
    term_dict = term_dict_from_postings(
        read_table(spark, "postings", paths.postings)
    )
    if n_ranges > 1:
        from pyspark import StorageLevel

        # the range sampler re-executes its child, the full posting
        # scan + groupBy — cached, that runs once (same fix as
        # write_postings)
        term_dict = term_dict.persist(StorageLevel.MEMORY_AND_DISK)
    # field=dir partitioning + term sort: a content-field lookup never
    # touches the (much larger) file_name/file_path dictionaries, and
    # prefix ranges prune row groups
    try:
        term_dict.repartitionByRange(
            n_ranges, "field", "term"
        ).sortWithinPartitions("term").write.mode("overwrite").partitionBy(
            "field"
        ).parquet(paths.term_dict)
    finally:
        term_dict.unpersist()
    _atomic_write_json(
        paths.finalized_marker, {"status": "finalized", "n_groups": n_groups}
    )


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
        offsets, stats = compute_plan(
            ensure_parallelism(prepare_docs(docs_raw)),
            self.params.fields,
            self.params.num_buckets,
            self.params.block_size,
            base_doc_id=self.params.base_doc_id,
        )
        offsets.to_parquet(self.paths.offsets, index=False)
        stats.to_parquet(self.paths.stats, index=False)
        _atomic_write_json(self.paths.params, self.params.to_dict())
        return offsets

    # ---------- step sizes ----------

    def _tokens(self, g: int | None = None) -> float:
        """Tokens of bucket group ``g`` (of the whole index for None),
        from the plan's artifacts: ``total_dl`` summed over fields,
        times the group's share of the offsets' ``n_docs``."""
        total = float(pd.read_parquet(self.paths.stats)["total_dl"].sum())
        if g is None:
            return total
        offsets = pd.read_parquet(self.paths.offsets)
        n = offsets["n_docs"]
        in_group = offsets["bucket"] % self.n_groups == g
        return total * float(n[in_group].sum()) / max(int(n.sum()), 1)

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

        par = self.spark.sparkContext.defaultParallelism
        tok = self._tokens(g)
        n_split = task_count(tok, 2 * par)
        n_ranges = task_count(tok, max(par, 4))

        # partition-pruned scan of this group's docs (written by
        # write_docs); lineage checksum comes from durable bytes
        persisted = read_table(self.spark, "docs", self.paths.docs).filter(
            F.col("group") == g
        )
        split = persisted
        if split.rdd.getNumPartitions() < n_split:
            # a small group collapses into one or two scan splits;
            # spread the Arrow tokenize kernel over n_split tasks
            split = split.repartition(n_split)
        tokens = token_rows(split, params.fields, params.positionless)
        postings = build_postings(
            tokens,
            stats,
            params,
            task_count(
                tok, int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            ),
        )
        write_postings(
            postings,
            os.path.join(self.paths.postings, f"group={g}"),
            n_ranges,
            ("field",),
        )

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
        finalize_index(self.spark, self.paths, self._tokens(), self.n_groups)

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
    ``postings``, ``term_dict``), the dictionary's pyarrow dataset
    (``term_dfs``) and ``stats`` is opened on first access, with its
    declared schema, and then held, so a query does not re-list files
    per access; ``hints`` filters the held dictionary. The held frames
    keep the file
    listing they were opened with: reopen the reader
    after rebuilding or compacting its directory.

    A finalized directory has no tombstones: every doc is live, so
    ``all_docs`` is ``docs`` and ``dead_doc_ids`` is None."""

    dead_doc_ids = None

    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.paths = IndexPaths(index_dir)
        self.params = IndexParams.from_dict(json.load(open(self.paths.params)))

    @functools.cached_property
    def docs(self) -> DataFrame:
        return read_table(self.spark, "docs", self.paths.docs)

    @property
    def all_docs(self) -> DataFrame:
        return self.docs

    @functools.cached_property
    def postings(self) -> DataFrame:
        return read_table(self.spark, "postings", self.paths.postings)

    @functools.cached_property
    def term_dict(self) -> DataFrame:
        return read_table(self.spark, "term_dict", self.paths.term_dict)

    @functools.cached_property
    def _term_dict_ds(self) -> pads.Dataset:
        return term_dict_dataset([self.paths.term_dict])

    def term_dfs(self, wants: dict[str, set[str]]) -> dict[tuple[str, str], int]:
        """Driver-side exact lookup (no Spark job): ``df`` of each
        wanted ``(field, term)`` present in the dictionary, summed over
        its dictionaries — a stacked reader's segments hold disjoint
        docs, so per-segment df add up, as Lucene sums per-segment
        docFreq."""
        cond = None
        for fld, ts in wants.items():
            c = (pads.field("field") == fld) & pads.field("term").isin(sorted(ts))
            cond = c if cond is None else (cond | c)
        out: dict[tuple[str, str], int] = {}
        if cond is None:
            return out
        tbl = self._term_dict_ds.to_table(columns=["field", "term", "df"], filter=cond)
        for f, t, d in zip(*(tbl.column(c).to_pylist() for c in tbl.column_names)):
            out[(f, t)] = out.get((f, t), 0) + d
        return out

    @functools.cached_property
    def hints(self) -> DataFrame:
        return hints_from_term_dict(self.term_dict)

    @functools.cached_property
    def stats(self) -> pd.DataFrame:
        return pd.read_parquet(self.paths.stats)

    def field_stats(self, field: str) -> tuple[int, float]:
        row = self.stats[self.stats["field"] == field]
        if row.empty:
            raise KeyError(f"no stats for field {field!r}")
        return int(row["n_docs"].iloc[0]), float(row["avgdl"].iloc[0])
