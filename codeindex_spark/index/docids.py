"""Deterministic, partitioning-invariant docID assignment.

Lucene assigns docIDs implicitly by segment insertion order (opaque,
non-reproducible). Rank-identity with the oracle (BASELINE.json
north_rule: "matching the reference's top-k docIDs") requires docIDs
to be a pure function of the corpus, independent of Spark parallelism.

Scheme (no global sort — scales to 10^12 docs):

1. bucket(doc) = int(sha256(repo|path|commit)[:8 hex], 16) % NUM_BUCKETS
   — deterministic hash bucketing, replicable in plain Python for the
   oracle and in DuckDB for SQL checks.
2. Per-bucket counts -> cumulative base offsets, each base rounded UP
   to a multiple of BLOCK_SIZE. Padding means a posting block
   (block_id = doc_id // BLOCK_SIZE) never spans two buckets, so
   per-bucket-group builds are embarrassingly parallel AND resumable:
   a bucket group's postings are complete without seeing other groups.
3. doc_id = base[bucket] + row_number within bucket ordered by
   (repo, path, commit) — a Window partitioned by bucket: one shuffle
   on a uniform hash key, no single-partition bottleneck.

The total order is (bucket, repo, path, commit); ties are impossible
because (repo, path, commit) is the table key.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY_SEP = "\x1f"


def bucket_of(repo: str, path: str, commit: str, num_buckets: int) -> int:
    h = hashlib.sha256(f"{repo}{KEY_SEP}{path}{KEY_SEP}{commit}".encode())
    return int(h.hexdigest()[:8], 16) % num_buckets


def bucket_col(num_buckets: int):
    key = F.concat_ws(KEY_SEP, F.col("repo"), F.col("path"), F.col("commit"))
    return (
        F.conv(F.substring(F.sha2(key, 256), 1, 8), 16, 10).cast("long")
        % num_buckets
    ).cast("int")


def assign_doc_ids(
    docs: DataFrame, offsets: pd.DataFrame, num_buckets: int
) -> DataFrame:
    """Attach deterministic doc_id. ``offsets`` is broadcast (tiny)."""
    spark = docs.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(offsets[["bucket", "base"]])
    )
    w = Window.partitionBy("bucket").orderBy("repo", "path", "commit")
    return (
        docs.withColumn("bucket", bucket_col(num_buckets))
        .join(off_df, "bucket")
        .withColumn("doc_id", F.col("base") + F.row_number().over(w) - 1)
        .drop("base")
    )


def assign_doc_ids_pandas(
    docs: pd.DataFrame, num_buckets: int, block_size: int
) -> pd.DataFrame:
    """Oracle-side replica of the exact same assignment (pure pandas)."""
    df = docs.copy()
    df["bucket"] = [
        bucket_of(r, p, c, num_buckets)
        for r, p, c in zip(df["repo"], df["path"], df["commit"])
    ]
    counts = df["bucket"].value_counts()
    bases = {}
    cur = 0
    for b in range(num_buckets):
        bases[b] = cur
        n = int(counts.get(b, 0))
        cur = -(-(cur + n) // block_size) * block_size
    df = df.sort_values(["bucket", "repo", "path", "commit"], kind="stable")
    df["doc_id"] = df.groupby("bucket").cumcount() + df["bucket"].map(bases)
    return df.sort_values("doc_id").reset_index(drop=True)
