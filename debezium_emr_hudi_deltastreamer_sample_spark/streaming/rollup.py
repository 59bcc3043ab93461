"""Incremental rollup maintenance (continuous aggregation): keep a
time-bucketed aggregate table up to date from append batches without ever
re-scanning history — the "hypertable rollup" pattern for 100 TB event
streams.

The trick is additivity: maintain (count, sum, min, max) partials per (bucket, keys);
each micro-batch aggregates ITSELF (map-side partials, tiny output), then
merges with the stored rollup by summing partials per group. Derived
metrics (avg) are computed at read time. Cost per batch is O(batch) + a
rollup-sized merge, independent of total history; the rollup table is
bucket-count sized, not event-count sized.

Crash-safety (the transactional-foreachBatch-sink contract): each applied
batch becomes ONE immutable commit directory published with a single
filesystem rename. The commit NAME is the sequence number alone — the
compare-and-swap property requires that any two writers publishing at the
same seq collide on the name, whatever batch/run they carry — and the
applied-batch record rides INSIDE the directory as a small manifest
(``_applied.json``: every run's high-water batch id) written into the
stage BEFORE the rename, so there is no separate marker write that could
diverge from the data. Readers take the applied batches from the tip's
manifest alone, and a published tip without one is an error, never a
guess. A crash before the publish leaves only staging garbage (never
visible to readers); after it the batch is durably applied. The publish
goes through fsutil.CommitLog: atomic directory rename on local/HDFS,
and on object stores (where directory rename is a torn copy+delete) the
commit-POINTER protocol — stage immutably, CAS one tiny pointer file via
conditional create — so the single-rename guarantee holds there too.

Replay/restart semantics: Structured Streaming batch ids are monotone PER
CHECKPOINT, so dedup is keyed by (run_id, batch_id) where ``run_id``
should identify the checkpoint (pass e.g. the checkpoint path). Replaying
a batch id already committed for the same run is a no-op; a NEW run (fresh
checkpoint) starts its own batch counter and is applied from scratch —
new data is never silently skipped because some earlier run reached a
higher batch id.

Use from ``foreachBatch`` (the engine's CDC shape, SURVEY.md §7.4.5) or
standalone on batch appends.
"""

from __future__ import annotations

import json
import re
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import CommitLog, is_lost_input, read_small_file, write_small_file

#: The applied-batch manifest inside every commit (named ``c<seq>``).
_MANIFEST = "_applied.json"


class IncrementalRollup:
    """Additive (count/sum/min/max) rollup of an event stream at a fixed time
    bucket, persisted as versioned parquet commits under ``path``__commits.

    ``keep_commits`` is also the CONCURRENT-READER window: a reader (or a
    racing committer's merge) planned against the current tip keeps its
    files for keep_commits-1 further commits before retention may delete
    them — run with the default (2) or higher whenever readers or multiple
    writers overlap; keep_commits=1 is single-writer-then-read only."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        ts_col: str,
        bucket: str,
        keys: Sequence[str],
        value_col: str,
        keep_commits: int = 2,
    ) -> None:
        self.spark = spark
        self.path = path
        self.ts_col = ts_col
        self.bucket = bucket
        self.keys = list(keys)
        self.value_col = value_col
        self.keep_commits = max(1, keep_commits)
        self._log = CommitLog(spark, self._commits_dir(), "c")
        # Reserved partials-schema names: a key/ts/value column with one of
        # these would emit duplicate columns inside _partials (opaque
        # AMBIGUOUS_REFERENCE mid-apply) or be silently shadowed in read()
        # — fail loudly at the boundary, like merge._reject_reserved.
        reserved = {"w", "bucket_start", "n", "total", "vmin", "vmax", "mean"}
        clash = reserved & ({ts_col, value_col} | set(self.keys))
        if clash:
            raise ValueError(
                f"rollup column name(s) {sorted(clash)} collide with the "
                "partials schema (w/bucket_start/n/total/vmin/vmax/mean); "
                "rename them before building the rollup"
            )

    def _partials(self, df: DataFrame) -> DataFrame:
        return (
            df.groupBy(
                F.window(self.ts_col, self.bucket).alias("w"), *self.keys
            )
            .agg(
                # count(value), not count(*): total/vmin/vmax ignore NULL
                # values, so n must too or the derived mean diverges from
                # avg(value) on null-bearing groups.
                F.count(F.col(self.value_col)).alias("n"),
                F.sum(F.col(self.value_col).cast("double")).alias("total"),
                F.min(F.col(self.value_col).cast("double")).alias("vmin"),
                F.max(F.col(self.value_col).cast("double")).alias("vmax"),
            )
            .select(
                F.col("w.start").alias("bucket_start"),
                *self.keys,
                "n",
                "total",
                "vmin",
                "vmax",
            )
        )

    # -- commit log ---------------------------------------------------------

    def _hadoop(self):
        from ..fsutil import hadoop_fs

        return hadoop_fs(self.spark, self.path)

    def _commits_dir(self) -> str:
        return f"{self.path}__commits"

    def _marks(self, c) -> dict[str, int] | None:
        """Run → high-water batch id recorded in one published commit's
        manifest. Nested crash garbage is healed first (``CommitLog.heal``)
        before a read or merge trips on it. None when retention retired
        the commit after the listing."""
        members = self._log.heal(c.uri)
        if members is None:
            return None
        if _MANIFEST not in members:
            published = [e.name for e in self._log.entries() if e.uri]
            if published[-1:] != [c.name]:
                return None  # a retention delete was emptying it: list again
            raise RuntimeError(
                f"rollup commit {c.name} at {self._commits_dir()} has no "
                f"{_MANIFEST}: every commit publishes one, so its applied "
                "batches are unknown — refusing to guess"
            )
        fs, hpath = self._hadoop()
        data = read_small_file(fs, hpath, self.spark, f"{c.uri}/{_MANIFEST}")
        if data is None:
            return None
        return {r: int(b) for r, b in json.loads(data).items()}

    def _state(self, entries=None) -> tuple[str | None, dict[str, int]] | None:
        """(tip content uri, run → applied high-water) for ``entries`` or
        a fresh listing; (None, {}) before the first commit, None when the
        tip was retired after the listing (list again).

        Only the tip's manifest counts: every commit was merged from the
        tip its writer saw and records that tip's marks plus its own
        batch, so an entry that lost its CAS below the tip (see
        ``CommitLog``) can never vouch for a batch the tip lacks."""
        if entries is None:
            entries = self._log.entries()
        published = [c for c in entries if c.uri is not None]
        if not published:
            return None, {}
        tip = published[-1]
        marks = self._marks(tip)
        return None if marks is None else (tip.uri, marks)

    def _current(self) -> tuple[str | None, dict[str, int]]:
        """``_state`` of a fresh listing, listing again while retention
        retires the tip under it."""
        for _attempt in range(3):
            state = self._state()
            if state is not None:
                return state
        raise RuntimeError(
            f"rollup tip at {self._commits_dir()} retired under 3 listings"
        )

    def _tip(self) -> str:
        """Content uri of the newest published commit, for reads."""
        tip = self._current()[0]
        if tip is None:
            raise FileNotFoundError(f"no rollup commits at {self._commits_dir()}")
        return tip

    @staticmethod
    def _safe_run(run_id: str) -> str:
        """Filesystem-safe run token. Sanitization alone can COLLIDE two
        distinct run ids ('/ckpt/a_1' and '/ckpt/a-1' both map to
        '-ckpt-a-1'), which would merge their batch-id dedup scopes and
        silently skip the second run's batches — so any id the regex had
        to touch gets a crc32 of the ORIGINAL appended. Untouched ids
        keep their historical token (no migration)."""
        import zlib

        safe = re.sub(r"[^A-Za-z0-9.-]", "-", run_id) or "default"
        if safe != run_id:
            safe += f"-{zlib.crc32(run_id.encode()):08x}"
        return safe

    def last_applied_batch(self, run_id: str = "default") -> int:
        return self._current()[1].get(self._safe_run(run_id), -1)

    def apply_batch(self, df: DataFrame, batch_id: int = 0, run_id: str = "default") -> None:
        """Fold one append batch into the rollup, atomically.

        Idempotent under foreachBatch's at-least-once replay: a batch id at
        or below the last committed one FOR THIS RUN is skipped (the
        additive merge would double-count it). The merged rollup is staged
        with its applied-batch manifest and published as one commit — data
        and record cannot diverge (see module docstring)."""
        run = self._safe_run(run_id)
        fs, hpath = self._hadoop()
        # A lost CAS where the commit seq MOVED is another run making
        # progress: this writer rebuilds on the new tip, and only
        # no-progress attempts (persistent FS failures) count toward
        # giving up (CommitLog.attempts).
        for entries in self._log.attempts():
            state = self._state(entries)
            if state is None:
                continue  # the tip was retired after the listing
            tip, applied = state
            if batch_id <= applied.get(run, -1):
                return
            applied[run] = batch_id
            stage = f"{self.path}__stage/{uuid.uuid4().hex}"
            # The staged write executes the merge plan exactly once (the
            # plan reads the PREVIOUS commit, the stage is fresh — no
            # read-under-overwrite), so no checkpoint materialization is
            # needed. Retention keeps the read commit alive through the
            # write (keep_commits >= 2) unless other runs land keep_commits
            # commits meanwhile and retire it: that lost input is their
            # progress, so this writer rebuilds on the new tip, as
            # DeltaLogTable.compact does.
            # Any failure after staging deletes the stage (same
            # BaseException contract as DeltaLogTable.compact) — a
            # deterministically failing batch must not leak one uuid dir
            # per foreachBatch retry forever.
            try:
                merged = self._merge(tip, self._partials(df))
                merged.write.mode("overwrite").parquet(stage)
                # The manifest goes INSIDE the stage, before the atomic
                # publish — data and applied-batch record publish together
                # (underscore-prefixed: parquet readers ignore it). It
                # holds the merged tip's marks plus this batch: one write
                # per commit however many runs have fed the rollup.
                write_small_file(
                    fs, hpath, f"{stage}/{_MANIFEST}",
                    json.dumps(applied, sort_keys=True).encode("utf-8"),
                )
                committed = self._log.publish(
                    entries, stage, keep=self.keep_commits
                )
            except BaseException as e:
                fs.delete(hpath(stage), True)
                if tip is not None and is_lost_input(e, self.path):
                    continue
                raise
            if committed:
                return
            # Lost the CAS: a concurrent writer published THIS seq first
            # (or ours landed below its newer tip) — a replay of this very
            # batch (caught by the high-water check on the next pass) or a
            # different batch, making our staged merge stale. Rebuild from
            # the new tip rather than publishing a merge that would drop
            # the other batch's data. With seq-only names this detection
            # is total: ANY same-seq publication collides on the name.
        raise RuntimeError(
            f"could not publish rollup commit for batch {batch_id} (run {run}) "
            f"after 5 attempts — persistent rename failures at {self._commits_dir()}"
        )

    def _merge(self, tip: str | None, partial: DataFrame) -> DataFrame:
        """The rollup at ``tip`` (None: no commit yet) plus ``partial``."""
        if tip is None:
            return partial
        return (
            self.spark.read.parquet(tip)
            .unionByName(partial)
            .groupBy("bucket_start", *self.keys)
            .agg(
                F.sum("n").alias("n"),
                F.sum("total").alias("total"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            )
        )

    def processor(self, run_id: str = "default"):
        """foreachBatch-compatible callable. Pass a ``run_id`` that
        identifies the CHECKPOINT (e.g. its path) so batch-id dedup is
        scoped to the stream run that generated the ids."""

        def process(df: DataFrame, batch_id: int) -> None:
            self.apply_batch(df, batch_id, run_id=run_id)

        return process

    def read(self) -> DataFrame:
        """Rollup with derived metrics (avg from the additive partials)."""
        r = self.spark.read.parquet(self._tip())
        return r.withColumn("mean", F.col("total") / F.col("n"))

    def reaggregate(self, coarser_bucket: str) -> DataFrame:
        """Hierarchical rollup: derive a COARSER-bucketed rollup from the
        stored partials without touching the raw events — the property
        additive partials buy (count/sum re-sum, min/max re-min/max). An
        hour table answering day/week/month queries from bucket-count-sized
        input is the other half of the continuous-aggregation story at
        100 TB: one fine rollup feeds every coarser resolution. Requires
        ``coarser_bucket`` to be a multiple of the fine bucket (window()
        aligns both to the epoch, so fine buckets nest exactly)."""
        fine = self.spark.read.parquet(self._tip())
        coarse = (
            fine.groupBy(
                F.window("bucket_start", coarser_bucket).alias("w"), *self.keys
            )
            .agg(
                F.sum("n").alias("n"),
                F.sum("total").alias("total"),
                F.min("vmin").alias("vmin"),
                F.max("vmax").alias("vmax"),
            )
            .select(
                F.col("w.start").alias("bucket_start"),
                *self.keys,
                "n",
                "total",
                "vmin",
                "vmax",
            )
        )
        return coarse.withColumn("mean", F.col("total") / F.col("n"))
