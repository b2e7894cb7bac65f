"""Incremental index maintenance — the reference's watcher/maintainer
loop (SURVEY.md §2.9 ST1-ST6) re-expressed as snapshot deltas.

The reference mutates a live Lucene index in place under locks
(/root/reference/src/CodeIndex.MaintainIndex/IndexMaintainer.cs:140-181,
/root/reference/src/CodeIndex.IndexBuilder/CodeIndexBuilder.cs:266-468).
The Spark-native equivalent is Lucene's *segment* model made explicit:

- the base index is immutable;
- each applied change-set becomes a **delta segment** — a complete
  mini-index whose docID space stacks above all prior segments
  (block-aligned, so block algebra still works across segments);
- replaced/deleted docs become **tombstones** (doc_key rows); a
  reader resolves them once to its dead docIDs, and the block kernel
  drops those docs from every scored stream (Lucene's liveDocs);
- corpus statistics (N, avgdl, df) are merged across segments and —
  exactly like Lucene before a merge — still count tombstoned docs
  until ``compact()`` rebuilds a fresh base.

ST-operator mapping:
  ST1 source     -> any change-event DataFrame / readStream source
  ST2 debounce   -> micro-batch boundaries (foreachBatch)
  ST3 compaction -> compact_events (rename-back => Changed,
                    delete+create => Changed, keep-last dedup;
                    /root/reference/src/CodeIndex.Files/FileChangesPreProcessing.cs:11-110)
  ST4 retry      -> Spark task retry + resumable builds
  ST5 upserts    -> IncrementalIndex.apply_snapshot / apply_changes
  ST6 reconcile  -> reconcile(): full-outer join indexed vs snapshot
                    on (repo, path) comparing content sha256
                    (IndexMaintainer.InitializeIndexCore,
                    IndexMaintainer.cs:272-369)
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from codeindex_spark.index.build import (
    CONTENT_FIELDS,
    IndexParams,
    default_num_buckets,
    prepare_docs,
    token_rows,
)
from codeindex_spark.index.merge import merge_segments, merged_stats
from codeindex_spark.index.segments import (
    IndexBuilder,
    IndexPaths,
    IndexReader,
    read_table,
    term_dict_dataset,
)

CHANGE_TYPES = ("Created", "Changed", "Deleted", "Renamed")

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("old_path", T.StringType(), True),
        T.StructField("change_type", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


# ------------------------------------------------------------------ ST3

def compact_events(events: DataFrame) -> DataFrame:
    """Event-queue compaction (FileChangesPreProcessing.cs:11-110
    semantics, three passes in reference order):

    1. RemoveTemplateChanges (:24-58): for each Renamed, the first
       LATER Renamed whose new path equals this one's old path is
       removed, and this one becomes Changed(old_path).
    2. RemoveTemplateDeletedChanges (:60-84): per path, a Deleted
       followed (anywhere later) by a Created drops the Deleted and
       turns that Created into Changed.
    3. RemoveDuplicatedChanges (:86-105): per (path, old_path, type),
       keep the LAST of exact duplicates.

    Pass 1's link is CROSS-PATH (Renamed A->B then C->A), so it
    cannot run inside a per-path group — but the reference's
    sequential loop is order-isomorphic to a DECLARATIVE matching on
    the original queue: a conversion at queue position i never
    changes any row at j > i (conversions only touch the row being
    processed, and drops don't change types), so every Renamed r
    independently matches the first strictly-later Renamed u — queue
    order = (ts, path, old_path) lexicographic, the same total order
    the driver loop sorted by — with u.path == r.old_path. Matched r
    converts to Changed(r.old_path); each distinct matched u loses
    exactly one copy (every matcher picks the same first copy). That
    is one keyed equi-join on (old_path = path) + a min-struct agg —
    fully distributed, no driver pull, no rename-count cap (a
    repo-root move with millions of renames is just a join).
    Identical surviving duplicates collapse to one row here; pass 3
    (keep-last of exact duplicates) makes that a no-op downstream.

    Passes 2-3 run distributed in a grouped pandas kernel (per-path
    groups are tiny).
    """
    renames = events.filter(F.col("change_type") == "Renamed")
    ren = renames.groupBy("ts", "path", "old_path").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    key = F.struct("ts", "path", "old_path")
    u_side = ren.select(
        F.col("path").alias("u_path"), key.alias("u_key")
    )
    ch_side = ren.select("ts", "path", "old_path", "cnt", key.alias("ch_key"))
    matches = (
        ch_side.join(
            u_side,
            (F.col("u_path") == F.col("old_path"))
            & (F.col("u_key") > F.col("ch_key")),
        )
        .groupBy("ch_key")
        .agg(F.min("u_key").alias("mu"))
    )
    converted = matches.select("ch_key", F.lit(True).alias("has_match"))
    dropped_u = (
        matches.select(F.col("mu").alias("ch_key"))
        .distinct()
        .withColumn("was_dropped", F.lit(True))
    )
    # degenerate self-renames (path == old_path): strict > on equal
    # keys cannot see copy-to-copy matches, so mirror the reference
    # loop's chain behavior explicitly. Duplicated self-renames
    # chain-drop each other: copy_i matches (and drops) copy_{i+1},
    # so unmatched-from-outside groups keep exactly ONE survivor
    # (Changed when cnt > 1), while a group some OTHER rename matched
    # loses its head copy too — the chain then kills every copy.
    self_ren = F.col("path") == F.col("old_path")
    dropped = F.coalesce("was_dropped", F.lit(False))
    resolved = (
        ch_side.join(converted, "ch_key", "left")
        .join(dropped_u, "ch_key", "left")
        .withColumn(
            "conv",
            F.coalesce("has_match", F.lit(False))
            | (self_ren & (F.col("cnt") > 1)),
        )
        .withColumn(
            "eff",
            F.when(self_ren & dropped, F.lit(0))
            .when(self_ren, F.lit(1))
            .otherwise(
                F.col("cnt") - F.when(dropped, 1).otherwise(0)
            ),
        )
        .filter(F.col("eff") > 0)
    )
    survived = resolved.select(
        F.when(F.col("conv"), F.col("old_path"))
        .otherwise(F.col("path"))
        .alias("path"),
        F.when(F.col("conv"), F.lit(None).cast("string"))
        .otherwise(F.col("old_path"))
        .alias("old_path"),
        F.when(F.col("conv"), F.lit("Changed"))
        .otherwise(F.lit("Renamed"))
        .alias("change_type"),
        "ts",
    )
    adj = events.filter(F.col("change_type") != "Renamed").unionByName(
        survived
    )

    def compact(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # ts is the queue order; break exact-ts ties deterministically
        # (shuffle order is arbitrary) on (change_type, old_path)
        recs = pdf.sort_values(
            ["ts", "change_type", "old_path"],
            kind="mergesort",
            na_position="first",
        ).to_dict("records")
        for r in recs:  # null old_path may arrive as NaN; NaN != NaN
            if pd.isna(r["old_path"]):
                r["old_path"] = None
        alive = [True] * len(recs)
        # pass 2: Deleted -> first later Created => keep Created as Changed
        for i, ev in enumerate(recs):
            if not alive[i] or ev["change_type"] != "Deleted":
                continue
            for j in range(i + 1, len(recs)):
                if alive[j] and recs[j]["change_type"] == "Created":
                    alive[i] = False
                    recs[j]["change_type"] = "Changed"
                    break
        # pass 3: exact duplicates (type, path, old_path) keep the last
        for i, ev in enumerate(recs):
            if not alive[i]:
                continue
            for j in range(i + 1, len(recs)):
                u = recs[j]
                if (
                    u["change_type"] == ev["change_type"]
                    and u["old_path"] == ev["old_path"]
                ):
                    alive[i] = False
                    break
        final = [r for i, r in enumerate(recs) if alive[i]]
        return pd.DataFrame(
            final, columns=["path", "old_path", "change_type", "ts"]
        )

    return adj.groupBy("path").applyInPandas(compact, schema=EVENT_SCHEMA)


# ------------------------------------------------------------------ ST6

def reconcile(indexed: DataFrame, snapshot: DataFrame) -> DataFrame:
    """Full-outer join of what's indexed vs the current snapshot on
    (repo, path); classify add / update / delete / unchanged.

    indexed:  (repo, path, doc_key, content_sha256)
    snapshot: (repo, path, commit, lang, content) — raw input shape
    Returns (repo, path, action, old_doc_key) plus snapshot columns
    for add/update rows.
    """
    snap = prepare_docs(snapshot).select(
        "repo", "path", "commit", "lang", "content",
        F.col("content_sha256").alias("new_sha"),
    )
    idx = indexed.select(
        "repo", "path",
        F.col("doc_key").alias("old_doc_key"),
        F.col("content_sha256").alias("old_sha"),
    )
    j = snap.join(idx, ["repo", "path"], "full_outer")
    return j.withColumn(
        "action",
        F.when(F.col("old_sha").isNull(), F.lit("add"))
        .when(F.col("new_sha").isNull(), F.lit("delete"))
        .when(F.col("new_sha") != F.col("old_sha"), F.lit("update"))
        .otherwise(F.lit("unchanged")),
    )


# ------------------------------------------------------ delta segments


def _exact_live_sums(seg_stats, dead_row: dict, needed: tuple) -> dict | None:
    """merge_compact's exact-stats reconstruction: live token sums =
    Σ per-segment stats totals − the dead docs' token counts, for the
    ``needed`` source columns only. Returns None when the stats shape
    predates total_dl or any reconstructed value is negative (the
    caller then falls back to re-tokenizing the live corpus)."""
    if "total_dl" not in seg_stats.columns:
        return None
    totals = seg_stats.groupby("field").agg(
        n_docs=("n_docs", "sum"), total_dl=("total_dl", "sum")
    )
    n_all = int(totals["n_docs"].iloc[0])
    sums = {"n_docs": n_all - int(dead_row["n_docs"] or 0)}
    for c in needed:
        tot = int(totals.loc[c, "total_dl"]) if c in totals.index else 0
        sums[f"sum_{c}"] = tot - int(dead_row.get(f"sum_{c}") or 0)
    if any(v < 0 for v in sums.values()):
        return None
    return sums


def _segs_as_of(segs: list[dict], as_of: int | None) -> list[dict]:
    """The segments visible after the ``as_of``-th apply."""
    if as_of is None:
        return segs
    if as_of < 0:
        raise ValueError("as_of must be >= 0")
    # legacy records without an epoch: position == apply ordinal
    return [s for i, s in enumerate(segs) if s.get("epoch", i) <= as_of]


def _union(frames: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, frames)


def _read_segments(spark: SparkSession, segs: list[dict], table: str) -> DataFrame:
    """One segment table (an ``IndexPaths`` name: ``docs``,
    ``term_dict``, ...) unioned across ``segs``."""
    return _union(
        [
            read_table(spark, table, getattr(IndexPaths(s["dir"]), table))
            for s in segs
        ]
    )


def _up_to(frame: DataFrame, as_of: int | None) -> DataFrame:
    """Rows of the epoch-tagged tombstone log visible at ``as_of``.
    Rows written before epochs existed read ``epoch`` as NULL and stay
    visible at every epoch."""
    if as_of is None:
        return frame
    return frame.filter(F.coalesce(F.col("epoch"), F.lit(0)) <= as_of)


def _live(docs: DataFrame, tomb: DataFrame | None) -> DataFrame:
    """Live docs: ``docs`` minus the tombstoned doc_keys."""
    return docs if tomb is None else docs.join(tomb, "doc_key", "left_anti")


def _merged_term_dict(spark: SparkSession, segs: list[dict]) -> DataFrame:
    return (
        _read_segments(spark, segs, "term_dict")
        .groupBy("field", "term")
        .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
    )


def _segment_stats(segs: list[dict]) -> list[pd.DataFrame]:
    return [pd.read_parquet(IndexPaths(s["dir"]).stats) for s in segs]


class IncrementalIndex:
    """Segment-stacked incremental index with tombstones.

    Layout under root/:
        base/                — full IndexBuilder layout (build_base)
        base_g0002/ ...      — the base a compaction wrote, named by
                               the generation that commits it
        deltas/d0001/ ...    — delta segments (same layout)
        tombstones.parquet   — doc_key rows excluded at query time,
                               epoch-tagged (the apply ordinal); a
                               reader turns them into its dead docIDs
                               (``MultiReader.dead_doc_ids``), which
                               the block kernel drops
        merged/term_dict.parquet — the segments' dictionaries summed
        _segments.json       — ordered segment list + doc-space ends
                               + epochs + the n_applies counter + the
                               generation (bumped when history restarts)

    Epochs give Iceberg-style snapshot time travel: ``reader(as_of=k)``
    serves queries against the exact state after the k-th apply
    (segments with epoch <= k, tombstones with epoch <= k,
    prefix-merged stats/dictionary). compact()/merge_compact()
    expire history, like Iceberg's expire_snapshots.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        params: IndexParams = IndexParams(),
        n_groups: int = 1,
    ):
        self.spark = spark
        self.root = root
        # the params pinned by an existing index: those of its first
        # segment (a merge_compact base is not at root/base), else of a
        # base build that has not committed _segments.json yet
        segs = self.segments()
        first = segs[0]["dir"] if segs else os.path.join(root, "base")
        stored = os.path.join(first, "params.json")
        stored_d = json.load(open(stored)) if os.path.exists(stored) else None
        if params.num_buckets is None:
            # same resolution rule as IndexBuilder: adopt the bucket
            # count pinned by an existing first segment (docIDs depend
            # on it), else the scale-adaptive default — resolved HERE
            # so every delta segment inherits one consistent value
            if stored_d is not None:
                nb = stored_d["num_buckets"]
            else:
                nb = default_num_buckets(spark, n_groups)
            params = dataclasses.replace(params, num_buckets=nb)
        if stored_d is not None:
            # the posting codec is likewise pinned by the first segment
            # (every segment's byte streams must decode the same way);
            # a default-params reopen must never mix codecs
            params = dataclasses.replace(
                params, codec=stored_d.get("codec", "varint")
            )
        self.params = params
        self.n_groups = n_groups
        os.makedirs(root, exist_ok=True)

    # ---------- state ----------

    @property
    def _seg_file(self) -> str:
        return os.path.join(self.root, "_segments.json")

    @property
    def _tomb_dir(self) -> str:
        return os.path.join(self.root, "tombstones.parquet")

    @property
    def _merged_term_dict_dir(self) -> str:
        return os.path.join(self.root, "merged", "term_dict.parquet")

    def _state(self) -> dict:
        """The parsed ``_segments.json``: ``segments``, ``n_applies``
        and ``generation`` (bumped each time history restarts, so a
        reader can tell a rebuilt base from the one it opened)."""
        if not os.path.exists(self._seg_file):
            return {"segments": [], "n_applies": 0, "generation": 0}
        meta = json.load(open(self._seg_file))
        # older files lack the counters: each apply added one segment
        meta.setdefault("n_applies", max(0, len(meta["segments"]) - 1))
        meta.setdefault("generation", 0)
        return meta

    def segments(self) -> list[dict]:
        return self._state()["segments"]

    def n_applies(self) -> int:
        """Snapshot epoch counter: 0 after build_base, +1 per
        apply_changes/apply_snapshot. Older _segments.json without
        the key falls back to segment count (each apply added one)."""
        return int(self._state()["n_applies"])

    def _write_segments(
        self, segs: list[dict], n_applies: int, generation: int
    ) -> None:
        tmp = self._seg_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "segments": segs,
                    "n_applies": n_applies,
                    "generation": generation,
                },
                f,
                indent=1,
            )
        os.replace(tmp, self._seg_file)

    def _restart_history(self, name: str, seg_dir: str, end_doc: int) -> None:
        """Make ``seg_dir`` the only segment at epoch 0 in a new
        generation (build_base, compact, merge_compact): history
        expires and readers opened before fail instead of reading
        replaced files."""
        self._write_segments(
            [{"name": name, "dir": seg_dir, "end_doc": end_doc, "epoch": 0}],
            n_applies=0,
            generation=self._state()["generation"] + 1,
        )
        self._merge_metadata()

    # ---------- build ----------

    def build_base(self, docs_raw: DataFrame) -> None:
        base_dir = os.path.join(self.root, "base")
        IndexBuilder(self.spark, base_dir, self.params, self.n_groups).build(
            docs_raw, resume=False
        )
        self._restart_history("base", base_dir, self._segment_end(base_dir))

    def _segment_end(self, seg_dir: str) -> int:
        offsets = pd.read_parquet(IndexPaths(seg_dir).offsets)
        last = offsets.iloc[-1]
        end = int(last["base"]) + int(last["n_docs"])
        bsz = self.params.block_size
        return -(-end // bsz) * bsz  # round up to block boundary

    def apply_snapshot(self, snapshot: DataFrame) -> dict:
        """ST6+ST5: reconcile the new snapshot against live docs, then
        upsert via a delta segment + tombstones. Returns the number of
        rows per reconcile action (actions with no row left out)."""
        live = self.live_docs().select(
            "repo", "path", "doc_key", "content_sha256"
        )
        # doc identity is (repo, path, commit): an update MUST carry a
        # new commit, else its doc_key collides with the tombstoned old
        # version and the new row would be filtered out too.
        new_doc_key = F.sha2(
            F.concat_ws("\x1f", F.col("repo"), F.col("path"), F.col("commit")),
            256,
        )
        action = F.col("action")
        obs = Observation("reconcile")
        # The per-action counts and the stale updates are observed
        # while the one checkpoint job runs, and the O(delta) changed
        # rows are held apart from the tombstones they were reconciled
        # against: the tombstone append would otherwise make the delta
        # build re-run the whole reconcile. Nothing is cached, so AQE
        # sizes the checkpointed rows to the delta.
        delta = (
            reconcile(live, snapshot)
            .observe(
                obs,
                *[
                    F.count(F.when(action == a, True)).alias(a)
                    for a in ("add", "update", "delete", "unchanged")
                ],
                F.count(
                    F.when(
                        (action == "update")
                        & (new_doc_key == F.col("old_doc_key")),
                        True,
                    )
                ).alias("stale"),
            )
            .filter(action != "unchanged")
            .localCheckpoint()
        )
        counts = {a: n for a, n in obs.get.items() if n}
        stale = counts.pop("stale", 0)
        if stale:
            raise ValueError(
                f"{stale} updated rows kept their commit unchanged; "
                "updates must carry a new commit (doc identity is "
                "(repo, path, commit))"
            )
        changed = delta.filter(action.isin("add", "update")).select(
            "repo", "path", "commit", "lang", "content"
        )
        # the old keys are live docs' keys: unique and never
        # tombstoned, so no distinct() or tombstone anti-join
        dead_keys = delta.filter(action.isin("update", "delete")).select(
            F.col("old_doc_key").alias("doc_key")
        )
        self._apply(
            changed,
            dead_keys,
            n_new=counts.get("add", 0) + counts.get("update", 0),
            n_dead=counts.get("update", 0) + counts.get("delete", 0),
        )
        return counts

    def apply_changes(
        self, new_docs: DataFrame, dead_doc_keys: DataFrame | None
    ) -> None:
        """Upsert ``new_docs`` and tombstone ``dead_doc_keys``; keys
        repeated or already tombstoned are tombstoned once."""
        dead = dead_doc_keys
        sides = [new_docs.select(F.lit(True).alias("new"))]
        if dead is not None:
            dead = dead.select("doc_key").distinct()
            if os.path.exists(self._tomb_dir):
                # idempotence: the log holds each key once
                dead = dead.join(
                    read_table(self.spark, "tombstones", self._tomb_dir),
                    "doc_key",
                    "left_anti",
                )
            # truncate lineage before appending to the tombstones the
            # keys were filtered against
            dead = dead.localCheckpoint()
            sides.append(dead.select(F.lit(False).alias("new")))
        row = (
            _union(sides)
            .agg(
                F.count(F.when(F.col("new"), True)).alias("n_new"),
                F.count(F.when(~F.col("new"), True)).alias("n_dead"),
            )
            .collect()[0]
        )
        self._apply(new_docs, dead, row["n_new"], row["n_dead"])

    def _apply(
        self,
        new_docs: DataFrame,
        dead: DataFrame | None,
        n_new: int,
        n_dead: int,
    ) -> None:
        """One apply at the next epoch: tombstone the ``n_dead`` keys
        of ``dead`` (none already tombstoned), then build the ``n_new``
        docs of ``new_docs`` as a delta segment and commit it to
        ``_segments.json``. Neither frame may still read the tombstones
        (callers localCheckpoint what they derived from them)."""
        state = self._state()
        segs = state["segments"]
        if not segs:
            raise RuntimeError("build_base first")
        epoch = state["n_applies"] + 1
        if n_dead:
            dead.withColumn("epoch", F.lit(epoch)).write.mode(
                "append"
            ).parquet(self._tomb_dir)
        if n_new:
            idx = len(segs)
            seg_dir = os.path.join(self.root, "deltas", f"d{idx:04d}")
            params = dataclasses.replace(
                self.params, base_doc_id=segs[-1]["end_doc"]
            )
            IndexBuilder(self.spark, seg_dir, params, self.n_groups).build(
                new_docs, resume=False
            )
            segs.append(
                {
                    "name": f"d{idx:04d}",
                    "dir": seg_dir,
                    "end_doc": self._segment_end(seg_dir),
                    "epoch": epoch,
                }
            )
        self._write_segments(
            segs, n_applies=epoch, generation=state["generation"]
        )
        self._merge_metadata()

    # ---------- merged metadata ----------

    def _merge_metadata(self) -> None:
        _merged_term_dict(self.spark, self.segments()).write.mode(
            "overwrite"
        ).partitionBy("field").parquet(self._merged_term_dict_dir)

    # ---------- read ----------

    def _tombstones(self, as_of: int | None) -> DataFrame | None:
        """Tombstoned doc_keys visible at ``as_of`` (None: there are
        no tombstones)."""
        if not os.path.exists(self._tomb_dir):
            return None
        return _up_to(
            read_table(self.spark, "tombstones", self._tomb_dir), as_of
        )

    def live_docs(self, as_of: int | None = None) -> DataFrame:
        return _live(self.all_docs(as_of), self._tombstones(as_of))

    def all_docs(self, as_of: int | None = None) -> DataFrame:
        return _read_segments(
            self.spark, _segs_as_of(self.segments(), as_of), "docs"
        )

    def reader(self, as_of: int | None = None) -> "MultiReader":
        """A point-in-time view: ``as_of=k`` reads the index exactly as
        it stood after the k-th apply (0 = just the base build) —
        Iceberg-style snapshot time travel over the segment/tombstone
        log; ``None`` reads the latest state. The reader holds the
        frames it opened: reopen it after apply_*()/compact()/
        merge_compact() (a stale reader raises ValueError).
        compact() and merge_compact() expire history: afterwards only
        the current state (epoch 0 again) is addressable."""
        return MultiReader(self, as_of)

    # ---------- compaction ----------

    def compact(self) -> None:
        """Merge all segments + tombstones into a fresh base (the
        Lucene force-merge analog). Afterwards stats/df are exact."""
        segs = self.segments()
        live = self.live_docs().select(
            "repo", "path", "commit", "lang", "content"
        )
        base = self._next_base_dir()
        IndexBuilder(self.spark, base, self.params, self.n_groups).build(
            live, resume=False
        )
        self._restart_history("base", base, self._segment_end(base))
        self._drop_replaced(segs, base)

    def merge_compact(self) -> None:
        """Postings-level compaction: ``merge_segments`` over the
        segment dirs with zero offsets (segments are doc-disjoint and
        block-aligned already) and the tombstoned doc_ids as its dead
        docs — WITHOUT re-tokenizing the corpus (the Lucene
        segment-merge analog: segments rewrite, content is never
        re-analyzed). Posting rows that lose a doc are decoded,
        filtered and re-encoded; the rest keep their bytes and get a
        block-max refresh. At 100 TB the tokenize + (field, term,
        block) shuffle dominates a rebuild; this pass touches only the
        posting bytes plus one JVM-side token-COUNT pass over the dead
        docs for exact stats.

        Differences vs compact(): live doc_ids are PRESERVED (the doc
        space keeps holes where dead docs were), so the result is not
        byte-identical to a fresh build — but BM25 stats, df/cf, and
        block-max metadata are recomputed exactly, so scores match a
        fresh build per document.

        Like compact(), it writes the new base to a fresh
        ``_next_base_dir`` and removes the replaced segments only after
        ``_segments.json`` names it."""
        from codeindex_spark.index.build import _stats_from_sums, _tok_count_cols

        segs = self.segments()
        if not segs:
            raise RuntimeError("build_base first")
        tomb = self._tombstones(None)
        dead_docs = (
            None
            if tomb is None
            else self.all_docs().join(tomb, "doc_key", "left_semi")
        )

        # only the token-count columns this index's fields actually
        # consume: reconstructing every _SUM_COLS entry would put a
        # phantom negative in sum_content_trigram for default-field
        # indexes (dead docs have trigram counts, segment stats have
        # no trigram row) and permanently disable the fast path
        needed = tuple(
            dict.fromkeys(
                "content" if f in CONTENT_FIELDS else f
                for f in self.params.fields
            )
        )

        def _sum_agg(docs_df) -> dict:
            return (
                _tok_count_cols(docs_df)
                .agg(
                    F.count(F.lit(1)).alias("n_docs"),
                    *[
                        F.sum(F.col(f"_tc_{c}")).alias(f"sum_{c}")
                        for c in needed
                    ],
                )
                .collect()[0]
                .asDict()
            )

        # Exact live stats WITHOUT re-tokenizing the live corpus:
        # every segment's stats parquet stores INTEGER total_dl per
        # field, so live sums = Σ segment totals − token counts of
        # the dead docs (a scan over churn, not corpus). Integer
        # arithmetic then the same total/n division a fresh build
        # does → bit-identical avgdl → identical scores. Falls back
        # to the full live token-count pass when the stats shape
        # cannot be reconstructed (e.g. a pre-total_dl segment).
        sums = _exact_live_sums(
            pd.concat(_segment_stats(segs), ignore_index=True),
            {"n_docs": 0} if dead_docs is None else _sum_agg(dead_docs),
            needed,
        )
        if sums is None:
            sums = _sum_agg(self.live_docs())
        merged_dir = self._next_base_dir()
        merge_segments(
            self.spark,
            [s["dir"] for s in segs],
            [0] * len(segs),
            _stats_from_sums(sums, tuple(self.params.fields)),
            merged_dir,
            dead=None if dead_docs is None else dead_docs.select("doc_id"),
        )
        self._restart_history("merged", merged_dir, segs[-1]["end_doc"])
        self._drop_replaced(segs, merged_dir)

    def _next_base_dir(self) -> str:
        """An empty dir for a compaction's output, named by the
        generation that will commit it (``base_gNNNN``): no current
        segment uses it, so the replaced segments stay readable until
        ``_segments.json`` names the new one."""
        path = os.path.join(
            self.root, f"base_g{self._state()['generation'] + 1:04d}"
        )
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _drop_replaced(self, segs: list[dict], keep: str) -> None:
        """After a compaction committed ``keep`` as the only segment:
        remove the replaced segment dirs and the tombstone log."""
        for s in segs:
            if os.path.abspath(s["dir"]) != os.path.abspath(keep):
                shutil.rmtree(s["dir"], ignore_errors=True)
        shutil.rmtree(os.path.join(self.root, "deltas"), ignore_errors=True)
        shutil.rmtree(self._tomb_dir, ignore_errors=True)


def _held(open_frame):
    """A MultiReader frame: opened on first access, then held; every
    access first checks that the reader is still current."""
    name = open_frame.__name__

    @functools.wraps(open_frame)
    def get(self):
        self._check_current()
        if name not in self._frames:
            self._frames[name] = open_frame(self)
        return self._frames[name]

    return property(get)


class MultiReader:
    """Query-side handle over stacked segments: a point-in-time view
    of an IncrementalIndex, IndexReader-compatible (unioned
    postings/docs, merged dictionary/stats, tombstone-aware liveness)
    and a drop-in for SearchEngine.

    Liveness is enforced in two places. ``dead_doc_ids`` holds the
    docIDs the reader's tombstones kill; SearchEngine's block kernel
    drops them from every scored stream (Lucene's liveDocs check in
    the scorer), so a scored search runs no tombstone join. ``docs``
    is the live docs (segment docs anti-joined with the tombstones)
    for the surfaces that read docs directly; ``all_docs`` keeps the
    dead ones, for joins keyed by docIDs that already passed the
    kernel.

    The segment list is pinned at open; each table frame (``docs``,
    ``all_docs``, ``postings``, ``term_dict``, ``hints``), the dead
    docIDs, the dictionary's pyarrow dataset (``term_dfs``) and
    ``stats`` is opened on first access, with its declared schema
    where it reads a table, and then held, so a query does not re-list
    files per access. The held frames keep
    the file listing they were opened with: reopen the reader
    after apply_*(), compact() or merge_compact(). Every access checks
    ``_segments.json`` (no Spark job): a latest-view reader raises
    ValueError once the index has changed; an ``as_of`` reader keeps
    working after later applies and raises once compaction has
    expired its epoch."""

    def __init__(self, inc: IncrementalIndex, as_of: int | None = None):
        self.inc = inc
        self.spark = inc.spark
        self.as_of = as_of
        state = inc._state()
        self._segs = _segs_as_of(state["segments"], as_of)
        self._opened = self._view(state)
        self._frames: dict = {}
        self.params = IndexReader(inc.spark, self._segs[0]["dir"]).params

    def _view(self, state: dict) -> tuple[int, int]:
        """(generation, epoch this reader sees) of a _segments.json
        state."""
        n = int(state["n_applies"])
        epoch = n if self.as_of is None else min(n, self.as_of)
        return state["generation"], epoch

    def _check_current(self) -> None:
        now = self._view(self.inc._state())
        if now != self._opened:
            (g0, e0), (g1, e1) = self._opened, now
            raise ValueError(
                f"stale reader: it was opened at epoch {e0} (generation "
                f"{g0}) of {self.inc.root}, which is now at epoch {e1} "
                f"(generation {g1}); reopen it with inc.reader()"
            )

    @functools.cached_property
    def _tombstones(self) -> DataFrame | None:
        return self.inc._tombstones(self.as_of)

    @functools.cached_property
    def _seg_stats(self) -> list[pd.DataFrame]:
        return _segment_stats(self._segs)

    @_held
    def all_docs(self) -> DataFrame:
        """The pinned segments' docs, tombstoned ones included."""
        return _read_segments(self.spark, self._segs, "docs")

    @_held
    def docs(self) -> DataFrame:
        """The live docs: the segments' docs minus the tombstones."""
        return _live(self.all_docs, self._tombstones)

    @_held
    def dead_doc_ids(self) -> np.ndarray | None:
        """Sorted int64 docIDs of the pinned segments' docs that this
        reader's tombstones kill (an ``as_of`` reader sees the
        tombstones up to its epoch), read on first access by one
        broadcast semi-join (two Spark jobs: the tombstones' broadcast
        and the collect); None when no doc is dead."""
        if self._tombstones is None:
            return None
        dead = self.all_docs.join(self._tombstones, "doc_key", "left_semi")
        ids = dead.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
        return np.sort(ids) if len(ids) else None

    @_held
    def postings(self) -> DataFrame:
        """Unioned postings with a per-row `_ub_scale` column: block-max
        tfnorms were encoded with each SEGMENT's avgdl, but queries
        score with the MERGED avgdl. tfnorm is increasing in avgdl, so
        a valid query-time upper bound is the stored block-max times
        max(1, avgdl_merged / avgdl_segment) — without it, WAND could
        prune a block whose docs now out-score their build-time bound."""
        merged = {
            r.field: float(r.avgdl) for r in self.stats.itertuples()
        }
        frames = []
        for s, seg_stats in zip(self._segs, self._seg_stats):
            fac = {}
            for r in seg_stats.itertuples():
                seg_avgdl = float(r.avgdl)
                fac[r.field] = (
                    max(1.0, merged.get(r.field, seg_avgdl) / seg_avgdl)
                    if seg_avgdl > 0
                    else 1.0
                )
            mapping = F.create_map(
                *[
                    x
                    for f_, v in sorted(fac.items())
                    for x in (F.lit(f_), F.lit(v))
                ]
            )
            frames.append(
                read_table(self.spark, "postings", IndexPaths(s["dir"]).postings)
                .withColumn("_ub_scale", mapping[F.col("field")])
            )
        return _union(frames)

    @_held
    def term_dict(self) -> DataFrame:
        if self.as_of is None:
            return read_table(
                self.spark, "term_dict", self.inc._merged_term_dict_dir
            )
        # snapshot read: merge the prefix's dictionaries on the fly
        # (the persisted merged/ artifacts only describe the latest
        # epoch); the union is |prefix| vocabulary-sized frames
        return _merged_term_dict(self.spark, self._segs)

    @_held
    def _term_dict_ds(self):
        """The dictionary as a pyarrow dataset, for ``term_dfs``: the
        merged dictionary, or for an ``as_of`` reader every pinned
        segment's own (``term_dfs`` sums their df)."""
        if self.as_of is None:
            return term_dict_dataset([self.inc._merged_term_dict_dir])
        return term_dict_dataset([IndexPaths(s["dir"]).term_dict for s in self._segs])

    term_dfs = IndexReader.term_dfs

    @_held
    def hints(self) -> DataFrame:
        """Hint words with at least one LIVE doc: merged-dictionary df
        minus the word's tombstoned docs, so deleted-only words drop
        out of autocomplete without a compact() (reference
        CodeIndexBuilder.cs:369-375,446-452). The dictionary is keyed
        (field, term), so the words are already unique."""
        td = self.inc_term_counts()
        live = td.filter(
            (F.length("word") >= 4) & (F.length("word") <= 199)
            & (F.col("df") > F.col("removed"))
        )
        return live.select("word", F.lower("word").alias("word_lower"))

    def inc_term_counts(self) -> DataFrame:
        """The merged dictionary's ``content_cs`` words with their
        ``df`` and ``removed``: how many of the docs holding the word
        are tombstoned at this reader's epoch. Only the reader's
        tombstoned docs are tokenized (the churn since the last
        compaction, never the corpus), and a semi-join matches each
        doc once however often its key was tombstoned."""
        td = self.term_dict.filter(F.col("field") == "content_cs").select(
            F.col("term").alias("word"), "df"
        )
        if self._tombstones is None:
            return td.withColumn("removed", F.lit(0))
        dead = self.all_docs.join(self._tombstones, "doc_key", "left_semi")
        removed = (
            token_rows(dead, fields=("content_cs",))
            .groupBy(F.col("term").alias("word"))
            .agg(F.count(F.lit(1)).alias("removed"))
        )
        return td.join(removed, "word", "left").fillna({"removed": 0})

    @_held
    def stats(self) -> pd.DataFrame:
        return merged_stats(self._seg_stats)

    field_stats = IndexReader.field_stats


# ------------------------------------------------------------- ST1/ST2

def maintain_stream(
    spark: SparkSession,
    upserts_dir: str,
    index: IncrementalIndex,
    checkpoint_dir: str,
    once: bool = True,
):
    """Structured Streaming maintenance: a file-source stream of doc
    upserts/deletes feeds foreachBatch micro-batches into the
    incremental index (the debounced watcher loop of the reference,
    with the watermark/trigger supplied by Structured Streaming).

    Upsert rows: (repo, path, commit, lang, content, change_type).
    change_type Deleted -> tombstone the live doc at (repo, path).
    """
    schema = T.StructType(
        [
            T.StructField("repo", T.StringType(), False),
            T.StructField("path", T.StringType(), False),
            T.StructField("commit", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
            T.StructField("content", T.StringType(), True),
            T.StructField("change_type", T.StringType(), False),
        ]
    )
    stream = spark.readStream.schema(schema).json(upserts_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        new_docs = batch_df.filter(
            F.col("change_type").isin("Created", "Changed")
        ).select("repo", "path", "commit", "lang", "content")
        deletes = batch_df.filter(F.col("change_type") == "Deleted").select(
            "repo", "path"
        )
        live = index.live_docs().select("repo", "path", "doc_key")
        dead = live.join(deletes, ["repo", "path"], "left_semi").select("doc_key")
        # replaced versions of updated paths also tombstone
        replaced = live.join(
            new_docs.select("repo", "path"), ["repo", "path"], "left_semi"
        ).select("doc_key")
        index.apply_changes(new_docs, dead.unionByName(replaced))

    writer = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
    )
    if once:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return q
    return writer.start()
