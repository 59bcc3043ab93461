"""Keyed, catalog-registered tables — the reference's table abstraction
(Hudi COPY_ON_WRITE + Hive sync, reference README.md:295-313)
implemented portably over partitioned parquet.

Semantics owned here (reference tier B):
- B5  upsert: latest-wins merge on a declared key + ordering field
- B8  deletes: op='d' rows drop the key
- B10 hive-style partition layout (``partition_by``)
- B11 schema reconciliation on write (unionByName inside merge_upsert)
- B12 catalog sync: ``register`` ≡ hive_sync (temp view locally; on a real
  cluster ``saveAsTable`` against the metastore)

A ``KeyedTable`` is a timeline of immutable versions, the shape of Hudi's
COW timeline. Every commit — ``init``, ``upsert``, ``compact``,
``compact_history`` and the SCD2 fold (streaming.pipeline) — writes its
data once, into a new directory, then publishes one version through
``fsutil.CommitLog``. A version holds the table's schema and the list of
data directories it reads, so the schema commits atomically with the data.
With ``partition_by`` an upsert reads and rewrites ONLY the partitions
holding changed keys and carries the others by reference (the Hudi
file-group analogue). No file is overwritten in place: readers never need
a repair, a killed commit leaves only an unreferenced directory, and the
writer's sweep after its next commit deletes it.

The publish is a CAS on the name after the version the merge read, so a
merge built on a tip that has since moved loses and raises
``ConcurrentWriterError`` instead of overwriting a newer version.

``DeltaLogTable`` is the MERGE_ON_READ sibling: a delta log of immutable
batch directories, folded into ``CommitLog`` base versions.

A real Hudi writer is used if the jar happens to be present
(``format("hudi")``, README.md:337 intent); this container ships none, so
the native path is the default and the Hudi path stays behind a capability
probe.
"""

from __future__ import annotations

import json
import sys
import threading
import uuid
from collections.abc import Callable, Sequence
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fsutil import (
    Commit,
    CommitLog,
    is_lost_input,
    is_not_found,
    read_parquet_if_present,
)
from .operators.merge import cdc_meta_columns, merge_upsert


def _union_schema(base: T.StructType, extra: T.StructType) -> T.StructType:
    """Schema reconciliation for the delta-log sidecar and partitioned
    upserts: keep ``base``'s column order,
    take ``extra``'s type for matching names (the merge's unionByName has
    already reconciled it — the latest write defines the current type),
    append columns only ``extra`` has. Monotone: a column, once present,
    never leaves except through an explicit table replace (init)."""
    by_name = {f.name: f for f in extra.fields}
    fields = [by_name.get(f.name, f) for f in base.fields]
    have = {f.name for f in base.fields}
    fields += [f for f in extra.fields if f.name not in have]
    return T.StructType(fields)


class SchemaSidecar:
    """The MOR delta log's authoritative current schema, persisted in the
    commit path — how every commit-log table format (Hudi/Delta/Iceberg)
    closes the schema-drift footgun: delta batches land with their own
    footers, and a footer-inferred read picks ONE arbitrary footer — a
    drifted column nondeterministically vanishes from the merge-on-read
    view and from the next compaction's folded base (permanent loss, no
    error). ``KeyedTable`` needs no sidecar: each of its versions carries
    its schema.

    Layout: ``{table}__schema/v{seq:012d}/schema.json`` (StructType.json),
    one ``fsutil.CommitLog``. Publish is a monotone-union retry loop over
    it, so racing writers can only WIDEN the schema, never clobber each
    other's columns; retention keeps the two newest versions (in-flight
    readers of the previous one stay valid). MOR delta reads apply the
    sidecar as the explicit parquet read schema — per-file missing
    columns null-fill, column order is stable, and no footer lottery
    remains. Every append publishes the sidecar before it writes, so a
    delta log without one merges every footer."""

    def __init__(self, spark: SparkSession, table_path: str) -> None:
        self.spark = spark
        self.dir = f"{table_path}__schema"
        self.stage_root = f"{table_path}__schema_stage"
        self._log = CommitLog(spark, self.dir, "v")

    def _parse(self, fs, hpath, uri: str | None) -> T.StructType | None:
        from .fsutil import read_small_file

        if uri is None:
            return None
        try:
            data = read_small_file(fs, hpath, self.spark, f"{uri}/schema.json")
            if data is None:
                return None
            return T.StructType.fromJson(json.loads(data.decode("utf-8")))
        except Exception:
            return None

    def _newest(self, fs, hpath, uris) -> T.StructType | None:
        for uri in reversed(uris):
            schema = self._parse(fs, hpath, uri)
            if schema is not None:
                return schema
        return None

    def current(self) -> T.StructType | None:
        """Newest parseable persisted schema, or None (no sidecar — the
        caller merges footers). Tries the previous version when
        the newest fails to read: a concurrent publisher's trim can delete
        a version between the listing and the read, and falling all the
        way back to footer inference would transiently reopen the exact
        vanishing-column hole the sidecar exists to close. If EVERY listed
        version fails to parse (two publishes landed between this reader's
        listing and its reads, so retention consumed the whole list), the
        listing is retried — a table that HAS a sidecar must not
        transiently read as if it never did."""
        fs, hpath = self._log.fs()
        for _attempt in range(3):
            versions = self._log.entries(fs, hpath)
            schema = self._newest(fs, hpath, [c.uri for c in versions])
            if schema is not None or not versions:
                return schema
        return None

    def publish(self, schema: T.StructType) -> None:
        """Record ``schema``, unioned into the current one. No-ops without
        a write when nothing changed — the stable-schema hot path pays one
        listing and one small-file read per commit."""
        from .fsutil import write_small_file

        fs, hpath = self._log.fs()
        for entries in self._log.attempts():
            # Newest PARSEABLE version — a never-published pointer must not
            # masquerade as "no sidecar": that would skip the union and
            # narrow the published schema.
            cur = self._newest(fs, hpath, [c.uri for c in entries])
            want = schema if cur is None else _union_schema(cur, schema)
            if cur is not None and cur.json() == want.json():
                return
            stage = f"{self.stage_root}/{uuid.uuid4().hex}"
            fs.mkdirs(hpath(stage))
            write_small_file(
                fs, hpath, f"{stage}/schema.json", want.json().encode("utf-8")
            )
            # The stage root stays: deleting it when empty raced a
            # concurrent publisher's mkdirs of its own stage below it.
            if self._log.publish(entries, stage):
                return
            # Lost the CAS (or won a stale name below the tip): re-read,
            # re-union — the loop converges because the union only grows.
        raise RuntimeError(
            f"could not publish table schema at {self.dir} after 5 attempts"
        )


def _embedded_commit_schema(spark: SparkSession, uri: str) -> T.StructType | None:
    """Schema-as-of embedded in one MOR base commit (``_schema.json``,
    underscore-prefixed so parquet readers ignore the file). Written into
    the STAGE before the commit publishes, so a commit and its schema are
    atomic — historical reads of a drifted table are footer-lottery-free,
    and a base of an EMPTIED table (zero parquet footers) stays readable.
    Every commit embeds it before it publishes, so None means retention
    removed the commit after the listing."""
    from .fsutil import hadoop_fs, read_small_file

    try:
        fs, hpath = hadoop_fs(spark, uri)
        data = read_small_file(fs, hpath, spark, f"{uri}/_schema.json")
        if not data:
            return None
        return T.StructType.fromJson(json.loads(data.decode("utf-8")))
    except Exception:
        return None


def _embed_commit_schema(spark: SparkSession, stage: str, schema: T.StructType) -> None:
    """Write the schema-as-of marker into a STAGED commit dir (must run
    after the parquet write — overwrite staging clears the dir)."""
    from .fsutil import hadoop_fs, write_small_file

    fs, hpath = hadoop_fs(spark, stage)
    write_small_file(
        fs, hpath, f"{stage}/_schema.json", schema.json().encode("utf-8")
    )


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted a data commit on a single-writer table,
    this writer was fenced by a takeover, or the tip moved past the
    version a commit's merge read. Raised INSTEAD of letting two
    read→merge→publish cycles interleave as silent lost updates."""


#: One stable writer identity per process: foreachBatch constructs a fresh
#: table object per micro-batch, and all of one pipeline's instances (plus
#: any same-process maintenance like async compaction) are the SAME logical
#: writer. A second process — the actual corruption risk — gets its own id
#: and is fenced.
_PROCESS_WRITER_ID = None


def _process_writer_id() -> str:
    global _PROCESS_WRITER_ID
    if _PROCESS_WRITER_ID is None:
        import os as _os

        _PROCESS_WRITER_ID = f"{_os.getpid()}-{uuid.uuid4().hex[:12]}"
    return _PROCESS_WRITER_ID


#: Thread-scoped writer identity override, set by streaming.pipeline.
#: start_pipeline around each foreachBatch invocation: tables constructed
#: INSIDE a checkpointed pipeline derive their writer id from the
#: CHECKPOINT location, not the process — so a crashed pipeline restarted
#: from its checkpoint (new pid) is the SAME logical writer and re-owns
#: its epoch with no manual take_over, while a different pipeline (other
#: checkpoint) writing the same table is still fenced. Thread-local
#: because concurrent streaming queries run their foreachBatch functions
#: on separate driver threads.
_PIPELINE_WRITER = threading.local()


@contextmanager
def pipeline_writer_scope(writer_id: str):
    """Scope a default writer identity over table constructions on this
    thread (see ``_PIPELINE_WRITER``); explicit ``writer_id`` arguments
    still win."""
    prev = getattr(_PIPELINE_WRITER, "writer_id", None)
    _PIPELINE_WRITER.writer_id = writer_id
    try:
        yield
    finally:
        _PIPELINE_WRITER.writer_id = prev


def _default_writer_id() -> str:
    wid = getattr(_PIPELINE_WRITER, "writer_id", None)
    return wid if wid else _process_writer_id()


#: Epoch commit dirs are immutable once published — owner resolution is
#: memoized process-wide so the steady-state lease check costs ONE listing
#: per data commit, no repeated small-file reads. (Corollary: wiping a
#: table and recreating it at the SAME path within one process reuses any
#: cached epoch owners — recreate under a fresh path, or the same
#: writer_id, as every fixture here does.) FIFO-bounded: epochs per table
#: are few, but a long-lived driver touching many thousands of tables
#: must not grow this without limit.
_LEASE_OWNER_CACHE: dict[str, str] = {}
_LEASE_OWNER_CACHE_MAX = 4096

#: Last heartbeat touch per (lease dir, writer id), in-process rate limit
#: so the liveness signal costs at most one small-file write per
#: heartbeat interval per table — not one per commit. FIFO-bounded like
#: _LEASE_OWNER_CACHE.
_HB_LAST_TOUCH: dict[tuple[str, str], float] = {}


def _heartbeat_interval() -> float:
    """Seconds between owner heartbeat touches (env-overridable:
    ``SPARK_GRAFT_HEARTBEAT_SEC``). ``take_over_if_stale`` TTLs must be
    at least twice this — enforced in ``WriterLease.ensure`` — so a live,
    committing writer can never look stale between touches."""
    import os as _os

    try:
        return float(_os.environ.get("SPARK_GRAFT_HEARTBEAT_SEC", "5.0"))
    except ValueError:
        return 5.0


class WriterLease:
    """Single-writer enforcement for a table path — the fencing-epoch
    protocol (Hudi's lock provider / Delta's log-store mutual exclusion,
    over this repo's own commit-CAS primitive).

    The lease is a monotone timeline of epoch commits under
    ``{table}__writer/`` (``e{seq:012d}`` dirs carrying an ``owner`` file,
    published through fsutil.CommitLog). The NEWEST epoch's owner is the
    table's one legitimate writer:

    - ``ensure()`` before a data commit: newest epoch is mine → proceed
      (one listing; owner reads are memoized — epochs are immutable). No
      epoch yet → claim e0. Another writer's → raise
      :class:`ConcurrentWriterError`, because proceeding is exactly the
      read→merge→overwrite interleave that loses updates silently.
    - ``take_over=True`` claims epoch N+1 over another writer's N — the
      deliberate handover (planned migration, reclaiming from a dead
      ad-hoc writer). The OLD writer is thereby fenced: its next
      ``ensure()``/``check()`` sees a newer epoch it doesn't own and
      raises. Consumed once by the table wrappers (``_ensure_lease``).
      Checkpointed pipelines do NOT need it for crash restart: their
      writer id derives from the checkpoint location
      (streaming.pipeline.checkpoint_writer_id), so a restart from the
      same checkpoint — even in a new process — already owns its epoch.

    What this does and does not guarantee: every steady-state concurrent
    writer fails LOUDLY before touching data. The one window the lease
    alone leaves is an in-flight commit racing the takeover itself
    (ensure passes, the takeover lands, the fenced writer's write
    completes) — the single-commit window Hudi's heartbeat-lease expiry
    has. A ``KeyedTable`` commit closes it with no lost update: the fenced
    writer re-checks before it publishes, and every publish is a CAS on
    the name after the version its merge read. Whichever of the two
    writers publishes second built on a tip that has since moved, so its
    CAS is lost and it raises ``ConcurrentWriterError``; its stale merge
    is never published. A MOR append (``_write_delta``) re-checks after
    its write."""

    def __init__(self, spark: SparkSession, table_path: str, writer_id: str | None) -> None:
        self.spark = spark
        self.dir = f"{table_path}__writer"
        self.stage_root = f"{table_path}__writer_stage"
        self.writer_id = writer_id or _default_writer_id()
        self._log = CommitLog(spark, self.dir, "e")

    def _owner(self, fs, hpath, uri: str | None) -> str | None:
        """Owner id recorded in one epoch commit; None for a
        never-published epoch or an unreadable owner file."""
        if uri is None:
            return None
        cached = _LEASE_OWNER_CACHE.get(uri)
        if cached is not None:
            return cached
        from .fsutil import read_small_file

        try:
            data = read_small_file(fs, hpath, self.spark, f"{uri}/owner")
        except Exception:
            return None
        if not data:
            return None
        owner = data.decode("utf-8").strip()
        while len(_LEASE_OWNER_CACHE) >= _LEASE_OWNER_CACHE_MAX:
            # FIFO eviction (insertion-ordered dict): oldest entries are
            # retired epochs — re-resolving one is a single small-file read.
            _LEASE_OWNER_CACHE.pop(next(iter(_LEASE_OWNER_CACHE)))
        _LEASE_OWNER_CACHE[uri] = owner
        return owner

    def _claim(self, fs, hpath, epochs) -> bool:
        """Publish the epoch after ``epochs`` with this writer as owner;
        retention keeps it plus its newest published predecessor (an
        in-flight check against the old epoch resolves, then fails loudly
        on the newer one at its next ensure)."""
        from .fsutil import write_small_file

        stage = f"{self.stage_root}/{uuid.uuid4().hex}"
        fs.mkdirs(hpath(stage))
        write_small_file(fs, hpath, f"{stage}/owner", self.writer_id.encode())
        return self._log.publish(epochs, stage)

    def _touch_heartbeat(self, fs, hpath) -> None:
        """Owner liveness signal: overwrite ``{dir}/heartbeat`` (content =
        writer id, mtime = last activity), rate-limited in-process to one
        write per heartbeat interval per table. Best-effort — a failed
        touch only means staleness judgments fall back to the epoch owner
        file's mtime (the claim time)."""
        import time as _time

        from .fsutil import write_small_file

        key = (self.dir, self.writer_id)
        now = _time.monotonic()
        last = _HB_LAST_TOUCH.get(key)
        if last is not None and now - last < _heartbeat_interval():
            return
        try:
            write_small_file(
                fs, hpath, f"{self.dir}/heartbeat", self.writer_id.encode()
            )
        except Exception:
            return
        while len(_HB_LAST_TOUCH) >= _LEASE_OWNER_CACHE_MAX:
            _HB_LAST_TOUCH.pop(next(iter(_HB_LAST_TOUCH)))
        _HB_LAST_TOUCH[key] = now

    def _owner_stale(self, fs, hpath, owner: str, uri: str | None, ttl_sec: float) -> bool:
        """True iff ``owner``'s last observable activity — heartbeat mtime
        when the heartbeat names this owner, else its epoch owner file's
        mtime — is at least ``ttl_sec`` old. Unjudgeable (no readable
        timestamp) is NOT stale: self-heal must fail closed, toward the
        loud ConcurrentWriterError, never toward taking over a writer
        whose liveness we could not read. Clock caveat: compares the
        store's mtimes with this driver's wall clock — pick TTLs well
        above any plausible node clock skew (minutes, not seconds, in
        production; the floor below only enforces the heartbeat bound)."""
        import time as _time

        from .fsutil import read_small_file

        last = None
        hb = f"{self.dir}/heartbeat"
        try:
            data = read_small_file(fs, hpath, self.spark, hb)
            if data and data.decode("utf-8", "replace").strip() == owner:
                last = fs.getFileStatus(hpath(hb)).getModificationTime()
        except Exception:
            last = None
        if last is None and uri is not None:
            try:
                last = fs.getFileStatus(
                    hpath(f"{uri}/owner")
                ).getModificationTime()
            except Exception:
                return False
        if last is None:
            return False
        return _time.time() * 1000.0 - float(last) >= ttl_sec * 1000.0

    def ensure(
        self, take_over: bool = False, take_over_if_stale: float | None = None
    ) -> None:
        """Assert (acquiring if free) that this writer owns the table;
        raise :class:`ConcurrentWriterError` otherwise. Called at the top
        of every data-committing method.

        ``take_over_if_stale=<seconds>`` is the UNATTENDED self-heal knob:
        when another writer owns the newest epoch but has shown no
        activity (heartbeat/claim mtime) for at least that long, claim the
        next epoch over it — the crashed-ad-hoc-writer recovery that
        otherwise needs a human passing ``take_over=True`` (USAGE.md).
        A live writer heartbeats on every commit (rate-limited to the
        heartbeat interval), so the TTL must be ≥ 2× the heartbeat
        interval — enforced loudly — and should be far larger in
        production (clock skew, GC pauses). Unlike ``take_over`` this is a
        standing policy, not a one-shot: it only ever fires against a
        STALE owner, so a live owner is never displaced. The fenced
        writer's own next ensure()/check() still raises — same fencing
        residual as a manual takeover."""
        fs, hpath = self._log.fs()
        if take_over_if_stale is not None:
            floor = 2 * _heartbeat_interval()
            if take_over_if_stale < floor:
                raise ValueError(
                    f"take_over_if_stale={take_over_if_stale} is below 2x "
                    f"the heartbeat interval ({floor:.1f}s) — a live owner "
                    "touches its heartbeat at most once per interval, so a "
                    "smaller TTL would take over writers that are merely "
                    "between touches. Raise the TTL (or lower "
                    "SPARK_GRAFT_HEARTBEAT_SEC)."
                )
        # A lost claim race where the epoch seq moved is progress (another
        # claimant landed — ownership gets re-evaluated against it), so only
        # attempts where NOTHING moved count toward giving up.
        for epochs in self._log.attempts():
            if epochs:
                newest = epochs[-1]
                owner = self._owner(fs, hpath, newest.uri)
                if owner == self.writer_id:
                    self._touch_heartbeat(fs, hpath)
                    return
                if take_over:
                    pass  # claim past whatever holds the newest epoch
                elif newest.uri is None:
                    raise ConcurrentWriterError(
                        f"the newest writer epoch at {self.dir} "
                        f"({newest.name}) was never published — a takeover "
                        "that crashed mid-claim. If no other writer is "
                        "alive, construct the table with take_over=True to "
                        "claim past it."
                    )
                elif owner is None:
                    continue  # retention retired it mid-read: re-list
                # take_over_if_stale: a stale owner falls through to the
                # claim below, fenced exactly like a manual take_over.
                elif take_over_if_stale is None or not self._owner_stale(
                    fs, hpath, owner, newest.uri, take_over_if_stale
                ):
                    raise ConcurrentWriterError(
                        f"table at {self.dir.removesuffix('__writer')} "
                        f"is owned by writer {owner!r} (epoch {newest.seq}); "
                        f"this writer is {self.writer_id!r}. A "
                        "concurrent read-merge-overwrite would "
                        "interleave as silent lost updates — if the "
                        "other writer is dead (crashed pipeline), "
                        "construct the table with take_over=True to "
                        "fence it and claim a new epoch, or pass "
                        "take_over_if_stale=<seconds> to self-heal "
                        "from owners with no recent heartbeat."
                    )
            if self._claim(fs, hpath, epochs):
                self._touch_heartbeat(fs, hpath)
                return
        raise ConcurrentWriterError(
            f"could not acquire the writer lease at {self.dir}: persistent "
            "claim races or an unreadable newest epoch. If no other writer "
            "is alive, construct the table with take_over=True to claim "
            "past it."
        )

    def check(self) -> None:
        """Post-write fencing probe: raise if a takeover landed while this
        writer's commit was in flight, so the fenced writer's pipeline
        dies loudly instead of continuing to publish over the new owner."""
        fs, hpath = self._log.fs()
        epochs = self._log.entries(fs, hpath)
        if not epochs:
            return
        owner = self._owner(fs, hpath, epochs[-1].uri)
        if owner is not None and owner != self.writer_id:
            raise ConcurrentWriterError(
                f"writer {self.writer_id!r} was fenced during a commit to "
                f"{self.dir.removesuffix('__writer')}: epoch "
                f"{epochs[-1].seq} now belongs to {owner!r}. This writer "
                "must stop; the in-flight commit may race the new owner's "
                "first write — re-run that writer's next batch."
            )


def save_bucketed(
    df: DataFrame,
    name: str,
    keys: Sequence[str],
    n_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Bucketed, sorted, catalog-registered table — the co-located-join
    primitive. Two tables bucketed on the same keys with the same bucket
    count join WITHOUT a shuffle (and without a sort, if sorted): at 100 TB
    this turns the recurring fact⋈fact join from the dominant shuffle into
    a zipped per-bucket merge. Requires saveAsTable (bucket metadata lives
    in the catalog, not the parquet footers)."""
    # Drop any previous registration: with an in-memory catalog a table
    # from an earlier session survives only as files, and saveAsTable
    # refuses to reuse the managed location.
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {name}")
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    writer.format("parquet").saveAsTable(name)


def hudi_available(spark: SparkSession) -> bool:
    """Probe for the Hudi DataSource (jar not shipped in this container)."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hudi.DefaultSource")
        return True
    except Exception:
        return False


class _Version(NamedTuple):
    """One published table version: the commit it was published as, the
    id of the data directory it wrote, its schema, the data directories
    it reads (relative to ``{path}/_data``), the ``[name, id]`` of the
    version it was built on, and the ``_v=<id>`` roots whose every
    partition it reads (read as one path each)."""

    commit: Commit | None
    id: str
    schema: T.StructType
    dirs: list[str]
    parent: list[str] | None
    whole: list[str]


class KeyedTable:
    """A primary-keyed, upsertable parquet table at a fixed path.

    >>> t = KeyedTable(spark, "/data/customers", keys=["id"],
    ...                ordering=["_lsn"], partition_by=["region"])
    >>> t.upsert(change_batch)   # latest-wins + deletes, COW
    >>> t.register("customers")  # queryable by name
    >>> t.read(as_of=n)          # time travel (keep_history > 0)

    On disk: ``{path}/_versions`` (the version log) and
    ``{path}/_data/_v=<id>`` (one data directory per commit), plus the
    writer lease beside the table (``{path}__writer``). Both names under
    ``path`` start with ``_``, so a bare ``spark.read.parquet(path)`` sees
    no engine data: read through ``read()``.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        ordering: Sequence[str] = ("_lsn",),
        partition_by: Sequence[str] = (),
        op_col: str | None = "op",
        keep_history: int = 0,
        writer_id: str | None = None,
        take_over: bool = False,
        take_over_if_stale: float | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = list(keys)
        self.ordering = list(ordering)
        self.partition_by = list(partition_by)
        self.op_col = op_col
        #: Single-writer enforcement (WriterLease): every data commit
        #: checks the fencing epoch — a SECOND writer (default: another
        #: process; pass ``writer_id`` to scope finer) raises
        #: ConcurrentWriterError instead of interleaving lost updates.
        #: ``take_over=True`` claims a new epoch over a dead writer's.
        self._lease = WriterLease(spark, path, writer_id)
        self.take_over = take_over
        #: Standing self-heal policy (never one-shot, unlike take_over):
        #: fence an owner with no heartbeat for this many seconds — see
        #: WriterLease.ensure. None = manual-takeover-only (the default).
        self.take_over_if_stale = take_over_if_stale
        #: Hudi-timeline time travel: ``read(as_of=n)`` and ``snapshots()``
        #: serve the newest ``keep_history`` versions on the tip's chain.
        #: Retention keeps ``max(2, keep_history)`` versions, so a reader
        #: of the previous version finishes on files that still exist.
        self.keep_history = max(0, keep_history)
        self._log = CommitLog(spark, f"{path}/_versions", "s")
        self._data = f"{path}/_data"

    def _ensure_lease(self) -> None:
        """Assert single-writer ownership, CONSUMING any takeover on the
        first success: ``take_over=True`` is a one-shot fencing action —
        left armed, two live writers both constructed with it would
        ping-pong epochs indefinitely and interleave read-merge-overwrite
        writes with no error (each re-taking the epoch before writing —
        exactly the silent lost-update pattern the lease exists to
        prevent). After consumption this writer is fenced like any other
        if a newer takeover lands. ``take_over_if_stale`` stays armed — it
        can only displace owners that stopped heartbeating, so it cannot
        ping-pong between live writers."""
        self._lease.ensure(self.take_over, self.take_over_if_stale)
        self.take_over = False

    # -- versions -------------------------------------------------------------

    def _version(self, c: Commit) -> _Version | None:
        """The manifest of one published commit, or None when retention
        removed it after the listing. A manifest that exists but cannot
        be read raises: taken for retired, the tip's would make the
        version below it the base of the next commit."""
        from .fsutil import read_small_file

        fs, hpath = self._log.fs()
        data = read_small_file(fs, hpath, self.spark, f"{c.uri}/_version.json")
        if data is None:
            return None
        m = json.loads(data)
        schema = T.StructType.fromJson(m["schema"])
        return _Version(c, m["id"], schema, m["dirs"], m["parent"], m["whole"])

    def _tip(self) -> tuple[list[Commit], _Version | None]:
        """The version log's listing and the newest version on it (None:
        the table has no version). A reader that lists just before two
        commits land can find the listed tip retired: it lists again."""
        for _attempt in range(3):
            entries = self._log.entries()
            published = [c for c in entries if c.uri is not None]
            if not published:
                return entries, None
            tip = self._version(published[-1])
            if tip is not None:
                return entries, tip
        raise FileNotFoundError(f"the newest version of {self.path} kept vanishing")

    def _chain(self, entries: list[Commit], tip: _Version, limit: int) -> list[_Version]:
        """Up to ``limit`` versions from ``tip`` back along the parent
        links, newest first. An entry below the tip that is not on this
        chain (a lost publish that ``CommitLog`` kept inside its window)
        is never served."""
        by_name = {c.name: c for c in entries if c.uri is not None}
        chain = [tip]
        while len(chain) < limit and chain[-1].parent:
            name, vid = chain[-1].parent
            v = self._version(by_name[name]) if name in by_name else None
            if v is None or v.id != vid:
                break
            chain.append(v)
        return chain

    def _history(self, entries: list[Commit], tip: _Version | None) -> list[_Version]:
        """The versions time travel serves: the newest ``keep_history``
        on the tip's chain, newest first."""
        return self._chain(entries, tip, self.keep_history) if tip and self.keep_history else []

    def _read_version(self, v: _Version, dirs: Sequence[str] | None = None) -> DataFrame:
        """``v``'s rows, or only those in ``dirs``, with ``v``'s schema in
        its column order. An unpartitioned version is one plain directory.
        Partition directories from several commits are read under one
        ``basePath``, so every path has the same ``_v=<id>/k=v`` structure
        below it; a root the version reads whole is one path, which saves
        Spark a listing per partition. Spark puts the pseudo-column ``_v``
        and the partition columns last, so the columns are selected back
        into order."""
        if dirs is None:
            whole = set(v.whole)
            dirs = sorted(whole) + [d for d in v.dirs if d.partition("/")[0] not in whole]
        if not dirs:
            return self.spark.createDataFrame([], v.schema)
        paths = [f"{self._data}/{d}" for d in dirs]
        if not any("/" in d for d in v.dirs):
            return self.spark.read.schema(v.schema).parquet(*paths)
        read_schema = T.StructType(v.schema.fields + [T.StructField("_v", T.StringType())])
        return (
            self.spark.read.schema(read_schema)
            .option("basePath", self._data)
            .parquet(*paths)
            .selectExpr(*[f"`{n}`" for n in v.schema.fieldNames()])
        )

    def _read_external(self) -> DataFrame:
        """A directory of parquet the engine did not write (no version
        yet): every footer is merged. Its first commit adopts it."""
        return self.spark.read.option("mergeSchema", "true").parquet(self.path)

    def _current(self, tip: _Version | None) -> DataFrame | None:
        """The rows a commit on ``tip`` builds on: the tip's, or with no
        version the external parquet the directory holds; None when the
        directory holds neither. ``upsert`` and ``replace`` decide this
        here, so they agree on what an unversioned directory holds."""
        from .fsutil import parquet_data_exists

        if tip is not None:
            return self._read_version(tip)
        if parquet_data_exists(self.spark, self.path):
            return self._read_external()
        return None

    # -- read ---------------------------------------------------------------

    def exists(self) -> bool:
        """True iff the table has readable data: its tip lists at least
        one data directory (a partitioned table that deletes emptied
        lists none), or, before the first version, the directory holds
        external parquet (fsutil.parquet_data_exists). Any probe failure
        other than MISSING/EMPTY RAISES: callers use this to decide
        between bootstrap and merge, and a blip read as "missing" would
        replace the table with one batch."""
        from .fsutil import parquet_data_exists

        _, tip = self._tip()
        if tip is None:
            return parquet_data_exists(self.spark, self.path)
        return bool(tip.dirs)

    def read(self, as_of: int | None = None) -> DataFrame:
        """The tip version, or — with ``keep_history`` and ``as_of=n`` —
        version ``n`` (0 = the first commit, then one per commit), Hudi
        time-travel style. Each version reads with its own schema: a
        pre-drift version serves exactly its columns, and a version of an
        emptied table still reads. A directory with no version (external
        parquet) merges its footers."""
        entries, tip = self._tip()
        if as_of is None:
            return self._read_external() if tip is None else self._read_version(tip)
        chain = self._history(entries, tip)
        for v in chain:
            if v.commit.seq == as_of:
                return self._read_version(v)
        raise FileNotFoundError(
            f"no version {as_of} at {self.path} (have "
            f"{sorted(v.commit.seq for v in chain)}; time travel serves the "
            f"last {self.keep_history})"
        )

    def snapshots(self) -> list[tuple[int, str]]:
        """The (seq, uri) of the versions ``read(as_of=…)`` serves, oldest
        first: the newest ``keep_history`` on the tip's chain. Each one's
        nested crash garbage is healed first (``CommitLog.heal``)."""
        if not self.keep_history:
            return []
        return [
            (v.commit.seq, v.commit.uri)
            for v in reversed(self._history(*self._tip()))
            if self._log.heal(v.commit.uri) is not None
        ]

    def register(self, name: str) -> None:
        """Catalog sync (B12). Locally a temp view; on a cluster this is
        where saveAsTable/Glue registration goes."""
        self.read().createOrReplaceTempView(name)

    # -- write --------------------------------------------------------------

    def _base(self) -> tuple[list[Commit], _Version | None]:
        """Take the lease, then the listing and tip a commit builds on."""
        self._ensure_lease()
        return self._tip()

    def _write_data(self, df: DataFrame, data_dir: str) -> None:
        """The commit's one data write, into a directory no version
        references yet (a crash-injection seam)."""
        writer = df.write
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(data_dir)

    def _written_dirs(self, vid: str) -> list[str]:
        """The data directories one write produced: ``_v=<id>`` itself,
        or one per partition it wrote (none for an empty write)."""
        from .fsutil import hadoop_fs

        dirs = [f"_v={vid}"]
        if not self.partition_by:
            return dirs
        fs, hpath = hadoop_fs(self.spark, self._data)
        for _level in self.partition_by:
            below = []
            for d in dirs:
                try:
                    listed = fs.listStatus(hpath(f"{self._data}/{d}"))
                except Exception as e:  # an empty write may leave no directory
                    if not is_not_found(e):
                        raise
                    listed = []
                below += [
                    f"{d}/{st.getPath().getName()}"
                    for st in listed
                    if st.isDirectory() and "=" in st.getPath().getName()
                ]
            dirs = below
        return sorted(dirs)

    def _touched(self, changes: DataFrame) -> set[str]:
        """The partition paths (``k=v[/k2=v2]``) holding changed keys, as
        Spark's writer names them (one small collect)."""
        cat = self.spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        default = cat.DEFAULT_PARTITION_NAME()
        rows = changes.select(
            *[F.col(c).cast("string") for c in self.partition_by]
        ).distinct().collect()
        return {
            "/".join(
                f"{cat.escapePathName(c)}="
                f"{default if v in (None, '') else cat.escapePathName(v)}"
                for c, v in zip(self.partition_by, row)
            )
            for row in rows
        }

    def _commit(
        self,
        df: DataFrame,
        entries: list[Commit],
        tip: _Version | None,
        touched: set[str] | None = None,
    ) -> None:
        """The one table commit: write ``df`` once into a new data
        directory, then publish one version on ``tip`` — the version the
        merge read, with ``entries`` the listing it came from. Without
        ``touched`` the version replaces the table (its schema is exactly
        ``df``'s); with it, ``df`` is the new content of those partitions:
        the others are carried by reference, a touched partition the merge
        emptied is dropped, and the schema widens monotonically (untouched
        partitions keep their columns; missing ones null-fill).

        The publish is a CAS on the name after ``tip``. If the tip moved
        since the merge read it, the CAS is lost and this raises
        ``ConcurrentWriterError``; the stale merge is never re-published.
        After a won publish the writer sweeps the data directories that
        existed when it began and that no retained version references
        (``fsutil.recover_table_swap``)."""
        from .fsutil import hadoop_fs

        fs, hpath = hadoop_fs(self.spark, self._data)
        try:
            before = {st.getPath().getName() for st in fs.listStatus(hpath(self._data))}
        except Exception as e:  # the table's first commit: no data dir yet
            if not is_not_found(e):
                raise
            before = set()
        vid = uuid.uuid4().hex
        self._write_data(df, f"{self._data}/_v={vid}")
        dirs = self._written_dirs(vid)
        whole = [f"_v={vid}"] if dirs else []
        schema = df.schema
        if touched is not None:
            cut = {d.partition("/")[0] for d in tip.dirs if d.partition("/")[2] in touched}
            whole += [r for r in tip.whole if r not in cut]
            dirs = [d for d in tip.dirs if d.partition("/")[2] not in touched] + dirs
            schema = _union_schema(tip.schema, schema)
        parent = [tip.commit.name, tip.id] if tip else None
        version = _Version(None, vid, schema, dirs, parent, whole)
        # A takeover that landed during the write fences this writer
        # before anything becomes visible.
        self._lease.check()
        self._publish(entries, version)
        # A retained version references the dirs it reads and its own
        # dir, which holds its manifest under the pointer protocol.
        kept = [version] + (self._chain(entries, tip, self._keep() - 1) if tip else [])
        live = {d.partition("/")[0] for v in kept for d in v.dirs}
        live |= {f"_v={v.id}" for v in kept}
        self._sweep({n for n in before if n.startswith("_v=") and n not in live})

    def _keep(self) -> int:
        return max(2, self.keep_history)

    def _publish(self, entries: list[Commit], version: _Version) -> None:
        """Stage ``version``'s manifest beside its data and CAS-publish it
        on ``entries`` (``fsutil.swap_table_dir``); a lost CAS raises."""
        from . import fsutil

        manifest = json.dumps(
            {"id": version.id, "schema": version.schema.jsonValue(),
             "dirs": version.dirs, "parent": version.parent, "whole": version.whole}
        )
        stage = f"{self._data}/_v={version.id}/_version_{version.id}"
        if not fsutil.swap_table_dir(self._log, entries, stage, manifest, self._keep()):
            raise ConcurrentWriterError(
                f"the tip of {self.path} moved past the version this commit "
                "read (a concurrent writer published); nothing was published "
                "— re-run the batch on the new tip"
            )

    def _sweep(self, dead: set[str]) -> None:
        """Delete the unreferenced data dirs ``dead``
        (``fsutil.recover_table_swap``); like ``_publish``, a step the
        crash lane of tools/fuzz_cdc.py kills."""
        from . import fsutil

        fsutil.recover_table_swap(self.spark, self._data, dead)

    def _empty_snapshot(self, changes: DataFrame) -> DataFrame:
        """An empty table with the data columns of ``changes`` (CDC
        metadata — op/ordering — stripped): the snapshot a bootstrap
        merges into."""
        meta = cdc_meta_columns(self.op_col, self.ordering)
        return changes.select(*[c for c in changes.columns if c not in meta]).limit(0)

    def init(self, df: DataFrame) -> None:
        """Create/replace the table from a snapshot."""
        self._commit(df, *self._base())

    def replace(self, fn: Callable[[DataFrame | None], DataFrame | None]) -> None:
        """Replace the table with ``fn(current)`` in one commit, where
        ``current`` is the tip's rows, the external parquet a directory
        with no version holds (adopted, as by ``upsert``), or None. ``fn``
        returning None commits nothing. The publish is a CAS on the
        version ``current`` came from: a lost one raises
        ``ConcurrentWriterError``, so stale rows are never published."""
        entries, tip = self._base()
        out = fn(self._current(tip))
        if out is not None:
            self._commit(out, entries, tip)

    def upsert(self, changes: DataFrame) -> None:
        """Apply a CDC change batch (B5/B6/B8/B11).

        Without partitioning: full COW rewrite. With partitioning: only the
        partitions that contain changed keys are read, merged and written;
        the new version carries the rest of the table by reference — the
        property that makes this viable at 100 TB. Like Hudi's non-global
        index, a key's partition value is assumed immutable. A table with
        no data yet (no version, or an emptied one) merges the batch into
        an empty snapshot and is replaced: the merge's precombine runs
        BEFORE deletes drop, so a key whose newest change in that batch is
        a delete cannot resurrect through an older insert. A directory of
        external parquet is merged into and adopted as the first version.
        """
        entries, tip = self._base()
        touched, current = None, None
        if tip is not None and tip.dirs and self.partition_by:
            touched = self._touched(changes)
            current = self._read_version(
                tip, [d for d in tip.dirs if d.partition("/")[2] in touched]
            )
        elif tip is None or tip.dirs:
            current = self._current(tip)
        if current is None:
            current = self._empty_snapshot(changes)
        merged = merge_upsert(current, changes, self.keys, self.ordering, self.op_col)
        self._commit(merged, entries, tip, touched)

    def compact(
        self,
        target_partitions: int | None = None,
        cluster_by: Sequence[str] | None = None,
    ) -> None:
        """Small-file compaction, optionally WITH data clustering. Per-
        micro-batch CDC writes accrete small files (one per task per
        batch) — the classic streaming-table decay; Hudi runs this as an
        inline/async table service, and its clustering service is the
        same rewrite with a sort. ``cluster_by``: one column → range-
        partition + sort on it (row-group skipping on that predicate
        column); two columns → Morton/Z-order interleave (the
        hoodie.clustering layout-optimize strategy), giving narrow
        row-group min/max stats in BOTH dimensions at once. Bits are
        sized from the column maxima so large keys keep their locality
        (fixed-width slices silently collapse the curve). Commits one
        version, like every write."""
        entries, tip = self._base()
        current = self._read_external() if tip is None else self._read_version(tip)
        n_out = target_partitions or int(
            self.spark.conf.get("spark.sql.shuffle.partitions")
        )
        if cluster_by:
            cluster_by = list(cluster_by)
            if len(cluster_by) == 1:
                out = current.repartitionByRange(
                    n_out, cluster_by[0]
                ).sortWithinPartitions(cluster_by[0])
            elif len(cluster_by) == 2:
                from .functions import adaptive_zorder_bits, zorder_key

                x, y = (F.col(c) for c in cluster_by)
                bits = adaptive_zorder_bits(current, *cluster_by)
                out = (
                    current.withColumn("__z", zorder_key(x, y, bits))
                    .repartitionByRange(n_out, "__z")
                    .sortWithinPartitions("__z")
                    .drop("__z")
                )
            else:
                raise ValueError("cluster_by supports 1 (sort) or 2 (Z-order) columns")
        else:
            out = current.repartition(n_out)
        self._commit(out, entries, tip)

    def compact_history(self, history: DataFrame) -> None:
        """Bootstrap from a full change history (B13 earliest replay):
        one global latest-wins pass instead of per-batch merges; a table
        replace like ``init``."""
        empty = self._empty_snapshot(history)
        merged = merge_upsert(empty, history, self.keys, self.ordering, self.op_col)
        self._commit(merged, *self._base())


class DeltaLogTable:
    """MERGE_ON_READ counterpart to ``KeyedTable`` (Hudi's other table type,
    ``hoodie.datasource.write.table.type`` — the reference picks
    COPY_ON_WRITE, README.md:300; this completes the axis).

    Write path: ``append_changes`` lands each change batch as an immutable
    ``delta/ingest_batch=<id>`` directory — O(batch) per micro-batch, no
    table rewrite (the write-amplification COW pays is deferred). Read
    path: latest-wins merge of base ∪ deltas computed AT READ TIME, with
    delta precedence by (batch id, ordering). ``compact`` folds the delta
    log into the base snapshot (Hudi's compaction table service) so read
    cost stays bounded by compaction cadence.

    The trade is exactly Hudi's: COW = slow write / fast read, MOR = fast
    write / merge-on-read. At 100 TB the delta dirs are also the
    incremental-pull surface (``read_incremental`` here, mirroring
    streaming.pipeline.incremental_read's directory pruning).

    ``auto_compact_deltas``: when set, ``append_changes`` triggers
    ``compact()`` once the delta log reaches that many batch directories —
    Hudi's inline-compaction trigger (``hoodie.compact.inline.max.delta.
    commits``). Bounds merge-on-read cost by compaction cadence without an
    external table service.

    ``async_compact``: run that triggered compaction on a background
    thread instead of blocking the ingest path — Hudi's async-compaction
    deployment (``hoodie.compact.inline=false`` + the async table
    service), the production answer to the inline-compaction latency
    spike (p95 4.8 s → sub-second on tools/stream_latency.py because the
    write path only ever pays the O(batch) delta append). Safe by the
    same contracts ``compact()`` already pins for racing appends and
    racing compactions (CAS publish, deferred retirement); single-flight
    per table path, so a slow compaction is never stacked. A compaction
    killed mid-run (process exit) leaves only an unpublished __stage dir
    and re-runs at the next trigger."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: Sequence[str],
        ordering: Sequence[str] = ("_lsn",),
        op_col: str | None = "op",
        auto_compact_deltas: int | None = None,
        compact_target_files: int | None = None,
        async_compact: bool = False,
        writer_id: str | None = None,
        take_over: bool = False,
        take_over_if_stale: float | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        #: Single-writer enforcement on the INGEST path (append_changes):
        #: same WriterLease contract as KeyedTable. ``compact()`` is NOT
        #: lease-guarded by design — it is a table SERVICE (Hudi's offline
        #: compactor runs in its own process legitimately) and its own
        #: version-name CAS + deferred retirement already make racing
        #: compactions safe.
        self._lease = WriterLease(spark, path, writer_id)
        self.take_over = take_over
        #: Standing stale-owner self-heal (see WriterLease.ensure).
        self.take_over_if_stale = take_over_if_stale
        self.keys = list(keys)
        self.ordering = list(ordering)
        self.op_col = op_col
        self.auto_compact_deltas = auto_compact_deltas
        self.compact_target_files = compact_target_files
        self.async_compact = async_compact
        #: The delta log's schema: the union of every appended batch's
        #: schema, applied as the explicit read schema, so a drifted column
        #: (B11) survives reads and compactions whatever footer the scan
        #: would infer from.
        self.delta_schema_sidecar = SchemaSidecar(spark, f"{path}/delta")
        #: Base versions ``v<seq>_t<through + 1>``, one CommitLog.
        self._base_log = CommitLog(spark, f"{path}/base__commits", "v")

    def _ensure_lease(self) -> None:
        """Single-writer assert with one-shot takeover consumption — same
        contract as KeyedTable._ensure_lease (see its docstring)."""
        self._lease.ensure(self.take_over, self.take_over_if_stale)
        self.take_over = False

    def _delta(self) -> str:
        return f"{self.path}/delta"

    @staticmethod
    def _through(c) -> int | None:
        """Compacted-through batch id from a ``t<through + 1>`` tag."""
        tag = c.tag or ""
        return int(tag[1:]) - 1 if tag[:1] == "t" and tag[1:].isdigit() else None

    def _base_versions(self, commits=None) -> list[tuple[int, int, str]]:
        """Published (readable) base versions as (seq, compacted_through,
        uri), seq-ascending, from ``commits`` or a fresh listing. A
        never-published name never retired its deltas, so only seq
        ALLOCATION counts it."""
        if commits is None:
            commits = self._base_log.entries()
        return [
            (c.seq, self._through(c), c.uri)
            for c in commits
            if c.uri is not None and self._through(c) is not None
        ]

    def _latest_base(self) -> tuple[int, int, str] | None:
        """Newest base version, or None before the first compaction."""
        versions = self._base_versions()
        return versions[-1] if versions else None

    def _delta_read_schema(self) -> T.StructType | None:
        """Explicit read schema for the delta log: the persisted sidecar
        union plus the ``ingest_batch`` partition column (resolved from
        the directory names). None when no sidecar exists — the read
        merges footers."""
        cur = self.delta_schema_sidecar.current()
        if cur is None:
            return None
        return T.StructType(
            [f for f in cur.fields if f.name != "ingest_batch"]
            + [T.StructField("ingest_batch", T.IntegerType())]
        )

    def _read_dir(
        self, p: str, schema: T.StructType | None = None
    ) -> DataFrame | None:
        """The parquet directory ``p``, or None when it is MISSING or holds
        no data file. Any other failure RAISES: a read that took a
        transient store error for "no deltas" would serve the compacted
        base alone, and a compaction would publish a base whose version
        name claims deltas it silently dropped (the ``ingest_batch >
        through`` filter would then mask those committed rows forever).
        ``schema``: explicit read schema (a sidecar or an embedded commit
        schema — authoritative, stable under drift); without one the read
        merges footers."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        else:
            reader = reader.option("mergeSchema", "true")
        return read_parquet_if_present(self.spark, p, reader)

    def _fs(self):
        from .fsutil import hadoop_fs

        return hadoop_fs(self.spark, self.path)

    def delta_batches(self, committed_only: bool = False) -> list[int]:
        """Batch ids currently in the delta log (one FS listing — cheap;
        compaction retires them).

        ``committed_only`` keeps only dirs carrying the ``_SUCCESS`` job
        marker. Required by the ASYNC compaction path: the ingest thread's
        parquet write creates ``ingest_batch=N`` at job SETUP, so a raw
        listing taken from the compaction thread can see a batch whose
        files have not committed yet — folding it would publish a base
        "compacted through N" over zero/partial rows and the delta filter
        in ``read`` would then mask N's committed rows forever. The marker
        flips the dir from invisible to foldable atomically at job commit
        (and an in-place replay overwrite deletes it first, hiding the dir
        again for the overwrite's duration)."""
        fs, hpath = self._fs()
        try:
            listed = fs.listStatus(hpath(self._delta()))
        except Exception as e:  # noqa: BLE001 — map only not-found to empty
            if is_not_found(e):
                return []
            raise
        all_ids, committed = [], []
        for s in listed:
            name = s.getPath().getName()
            if not name.startswith("ingest_batch="):
                continue
            bid = int(name.split("=", 1)[1])
            all_ids.append(bid)
            if committed_only and fs.exists(
                hpath(f"{self._delta()}/{name}/_SUCCESS")
            ):
                committed.append(bid)
        if not committed_only:
            return sorted(all_ids)
        if all_ids and not committed:
            # No dir carries the marker. Either every dir is in-flight
            # (marker convention active — exclude them all) or the
            # deployment disables marksuccessfuljobs (common on object
            # stores) and filtering would make compaction silently inert
            # forever. Disambiguate via the base-version dirs: they are
            # written by the same committer, so a marker there proves the
            # convention is active. With no evidence of markers anywhere,
            # degrade to the raw listing (pre-guard behavior) and say so
            # once — on such deployments the torn-batch guard needs the
            # table-format commit log (README "Deploying outside this
            # container").
            #
            # Known hole in this inference (accepted): before the FIRST
            # compaction there is no base version to probe, so a moment
            # where every pending dir is simultaneously marker-less (all
            # in-flight) is indistinguishable from a markerless committer
            # and folds an in-flight batch. Reaching it requires
            # auto_compact_deltas=1 (compact fires while the only batch
            # ever written is still mid-write — at the default threshold
            # >= 2 some SIBLING batch has already committed and carries
            # the marker) or a manual compact() racing the first-ever
            # batch. Deployments that need the guard airtight from batch
            # zero should write the base version first (an empty
            # overwrite() bootstraps the marker probe).
            versions = self._base_versions()
            if versions and fs.exists(hpath(f"{versions[-1][2]}/_SUCCESS")):
                return []
            if self.path not in DeltaLogTable._MARKERLESS_WARNED:
                DeltaLogTable._MARKERLESS_WARNED.add(self.path)
                print(
                    f"[mor-compact] no _SUCCESS markers found under "
                    f"{self._delta()}: committed-batch detection degraded "
                    "to the raw listing (set "
                    "mapreduce.fileoutputcommitter.marksuccessfuljobs=true "
                    "or use a table-format commit log for the async "
                    "torn-batch guard)",
                    file=sys.stderr,
                )
            return sorted(all_ids)
        return sorted(committed)

    def _write_delta(self, changes: DataFrame, batch_id: int) -> None:
        """Land one delta dir — the only data write in the append path
        (idempotent per batch id: a replay overwrites its own directory).
        A named seam so crash-injection tests can kill the commit between
        the schema publish and the data landing."""
        self._ensure_lease()
        changes.write.mode("overwrite").parquet(
            f"{self._delta()}/ingest_batch={batch_id}"
        )
        self._lease.check()

    def append_changes(self, changes: DataFrame, batch_id: int) -> None:
        """Land one change batch (idempotent per batch id: a replay
        overwrites its own directory, the append-sink contract). May
        trigger inline compaction (``auto_compact_deltas``) — safe under
        replay: a re-landed batch's changes are latest-wins idempotent
        against a base that already folded them."""
        # Refuse up front (single-writer ingest): a fenced writer must not
        # even widen the delta sidecar; _write_delta re-checks.
        self._ensure_lease()
        # Widen the sidecar BEFORE the append: a drifted batch on disk
        # under a stale-narrow sidecar would vanish the new column from the
        # merge-on-read view — and from the next compaction's folded base,
        # permanently.
        self.delta_schema_sidecar.publish(changes.schema)
        self._write_delta(changes, batch_id)
        if self.auto_compact_deltas:
            ver = self._latest_base()
            through = ver[1] if ver else -1
            # Count only UNFOLDED dirs: retirement is deferred one cycle,
            # so already-compacted dirs may linger and must not re-trigger.
            pending = [b for b in self.delta_batches() if b > through]
            if len(pending) >= self.auto_compact_deltas:
                if self.async_compact:
                    self._spawn_async_compaction()
                else:
                    self.compact()

    # Single-flight async compaction registry: one live compaction thread
    # per table path across ALL DeltaLogTable instances (foreachBatch
    # constructs a fresh instance per micro-batch). _ASYNC_ERRORS holds
    # the last failure per path — a daemon thread has nowhere to raise.
    _ASYNC_LOCK = threading.Lock()
    _ASYNC_THREADS: dict[str, threading.Thread] = {}
    _ASYNC_ERRORS: dict[str, BaseException] = {}
    #: paths already warned about a marker-less committer (once per proc).
    _MARKERLESS_WARNED: set[str] = set()

    def _spawn_async_compaction(self) -> None:
        def run() -> None:
            # The table service semantics (Hudi async compactor): a failed
            # attempt is logged and retried at the next trigger, it never
            # fails the ingest stream. compact() cleans its own stage dir
            # on any exit path, so a deterministic failure retries without
            # accumulating snapshot-sized garbage.
            try:
                self.compact()
                with DeltaLogTable._ASYNC_LOCK:
                    DeltaLogTable._ASYNC_ERRORS.pop(self.path, None)
            except BaseException as e:  # noqa: BLE001 — must not die silent
                with DeltaLogTable._ASYNC_LOCK:
                    DeltaLogTable._ASYNC_ERRORS[self.path] = e
                print(
                    f"[mor-compact] async compaction failed for {self.path}: "
                    f"{type(e).__name__}: {e}",
                    file=sys.stderr,
                )

        with DeltaLogTable._ASYNC_LOCK:
            t = DeltaLogTable._ASYNC_THREADS.get(self.path)
            if t is not None and t.is_alive():
                return  # one in flight — the next trigger catches up
            t = threading.Thread(
                target=run, name=f"mor-compact:{self.path}", daemon=True
            )
            DeltaLogTable._ASYNC_THREADS[self.path] = t
            t.start()

    def last_compaction_error(self) -> BaseException | None:
        """Most recent ASYNC compaction failure for this path (cleared by
        the next successful run). Monitoring hook: the service retries
        per-trigger, but a deterministic failure shows up here while
        deltas accumulate."""
        with DeltaLogTable._ASYNC_LOCK:
            return DeltaLogTable._ASYNC_ERRORS.get(self.path)

    def await_compaction(self, timeout: float | None = None) -> None:
        """Join any in-flight async compaction for this path (tests and
        orderly shutdown; production leaves the service free-running)."""
        t = DeltaLogTable._ASYNC_THREADS.get(self.path)
        if t is not None and t.is_alive():
            t.join(timeout)

    def base_versions(self) -> list[int]:
        """Published compaction version seqs, oldest first (retention
        keeps the two newest — the MOR time-travel window)."""
        return [seq for seq, _, _ in self._base_versions()]

    def read_version(self, seq: int) -> DataFrame:
        """Time travel on the MOR axis (the COW sibling is
        ``KeyedTable.read(as_of=...)``): serve a specific PUBLISHED
        compaction version's base as-of its compacted-through batch — no
        later deltas applied, so the result is exactly the table state the
        moment that compaction folded. Retention bounds the window to the
        two newest versions (an in-flight-reader guarantee doubling as
        history), mirroring Hudi's cleaner-retained commits."""
        for s, _, uri in self._base_versions():
            if s == seq:
                # Schema-as-of embedded at compaction time: a pre-drift
                # version serves exactly its own columns. Missing schema
                # or files: a concurrent compaction's retention deleted
                # the version after the listing — the window error below.
                schema = _embedded_commit_schema(self.spark, uri)
                df = None if schema is None else self._read_dir(uri, schema=schema)
                if df is None:
                    break
                return df
        raise FileNotFoundError(
            f"no base version {seq} at {self.path} "
            f"(have {self.base_versions()}; retention keeps the 2 newest)"
        )

    def read(
        self,
        optimized: bool = False,
        _upper_batch: int | None = None,
    ) -> DataFrame:
        """Merge-on-read snapshot: base patched with the delta log.

        Delta precedence is (ingest_batch, *ordering) — equivalent to
        replaying the batches in id order with each batch's own
        latest-wins dedup, because ``merge_upsert`` gives changes priority
        over the base and the prefixed ordering ranks across batches.

        ``optimized=True`` is Hudi's READ-OPTIMIZED query type: serve the
        compacted BASE only — parquet-scan cost with zero merge work, at
        the price of staleness bounded by compaction cadence (deltas
        landed since the last ``compact()`` are not visible). The
        dashboard/reporting lane next to the exact snapshot lane."""
        ver = self._latest_base()
        base, through = None, -1
        if ver:
            through = ver[1]
            schema = _embedded_commit_schema(self.spark, ver[2])
            if schema is None:
                raise FileNotFoundError(
                    f"base version {ver[0]} at {self.path} was retired "
                    "during the read (retention keeps the 2 newest)"
                )
            base = self._read_dir(ver[2], schema=schema)
        if optimized:
            if base is None:
                raise FileNotFoundError(
                    f"read-optimized view of {self.path} requires a compacted "
                    "base (run compact() first)"
                )
            return base
        deltas = self._read_dir(self._delta(), schema=self._delta_read_schema())
        if deltas is not None and through >= 0:
            # A version records the batch id it compacted THROUGH; delta
            # dirs at or below it are already folded into this base (they
            # are retired after publish, but a reader can land between the
            # rename and the retire — or a replayed batch can recreate a
            # retired dir — and must not re-apply them).
            deltas = deltas.filter(F.col("ingest_batch") > through)
        if deltas is not None and _upper_batch is not None:
            # compact() pins its snapshot to the delta listing it is about
            # to record as compacted-through: a batch that lands DURING
            # the merge must stay out of the published version, or
            # read_version would serve history containing a batch the
            # version name disclaims.
            deltas = deltas.filter(F.col("ingest_batch") <= _upper_batch)
        if deltas is None:
            if base is None:
                raise FileNotFoundError(f"empty MOR table at {self.path}")
            return base
        # Strip the same CDC metadata set as KeyedTable._empty_snapshot (plus
        # the MOR-only ingest_batch) so the COW and MOR variants of one feed
        # agree on the table schema — with ordering=("_lsn",) a batch that
        # happens to carry _ts_ms must not promote it to a data column.
        meta = cdc_meta_columns(self.op_col, self.ordering) | {"ingest_batch"}
        row_cols = [c for c in deltas.columns if c not in meta]
        if base is None:
            base = self.spark.createDataFrame([], deltas.select(*row_cols).schema)
        return merge_upsert(
            base,
            deltas,
            self.keys,
            ["ingest_batch", *self.ordering],
            op_col=self.op_col,
        )

    def read_incremental(self, since_batch: int) -> DataFrame:
        """Changes landed AFTER ``since_batch`` — the MOR incremental-pull
        surface (Hudi incremental query on a MOR table). The filter on the
        ``ingest_batch`` partition column prunes at the DIRECTORY level
        (PartitionFilters in the plan, pinned in tests/test_plans.py):
        pre-checkpoint delta dirs are never even listed, so an incremental
        consumer's scan cost is O(new batches), not O(log). History is
        bounded by compaction cadence — compaction retires delta dirs, so
        consumers must keep ``since_batch`` within the uncompacted window
        (exactly Hudi's incremental-read-vs-cleaner contract)."""
        deltas = self._read_dir(self._delta(), schema=self._delta_read_schema())
        if deltas is None:
            raise FileNotFoundError(
                f"no delta log at {self.path} (compacted or empty table)"
            )
        return deltas.filter(F.col("ingest_batch") > since_batch)

    def compact(self) -> None:
        """Fold the delta log into a NEW base version (Hudi compaction as
        MVCC): merge base ∪ deltas, stage the snapshot, publish it with
        one atomic rename whose name records (seq, compacted-through batch
        id), then retire only the delta dirs AT OR BELOW that id.

        Concurrency contract this buys (pinned by tests):
        - a batch appended while the merge runs has id > through, is never
          retired by this compaction, and stays visible via the delta
          filter in ``read`` — no lost deltas (the previous in-place
          overwrite deleted the WHOLE delta dir, racing appends away);
        - an in-flight reader planned against the previous version keeps
          scanning immutable files: the two newest base versions are
          retained, and delta retirement is DEFERRED one cycle — this
          compaction retires only dirs the PREVIOUS version had already
          folded (our own window stays on disk, invisible to new readers
          via the partition filter, until the next compaction) — Hudi's
          cleaner-retains-commits contract;
        - two racing compactions CAS on the version name — the loser
          discards its stage and nothing is retired twice.

        ``compact_target_files`` bounds the new version's file count
        (small-file control: a merge at the session's shuffle fan-out
        would leave one sliver file per partition).

        Cross-process compactor races (round 12, found by the real
        two-process hunt): TWO compaction services on one table advance
        the version timeline twice as fast, so one service's in-flight
        merge can scan a delta dir the other's NEXT cycle just retired —
        the read then fails with FAILED_READ_FILE (never a
        silently row-short snapshot; see the ignoreMissingFiles pin
        below). That failure means the OTHER compactor folded those very
        deltas into a newer published version — progress, not damage — so
        this method retries the whole plan against the fresh timeline a
        bounded number of times and usually returns on the
        nothing-left-to-fold early exit. Any other failure, and the last
        retry, still raise."""
        for attempt in range(3):
            try:
                return self._compact_once()
            except Exception as e:
                if not is_lost_input(e, self.path) or attempt == 2:
                    raise
        return None

    def _compact_once(self) -> None:
        """One compaction attempt — see ``compact`` for the contract."""
        # The fail-safe story below leans on scans RAISING when a
        # racing (out-of-process) compaction retires a file between this
        # listing and the stage write. spark.sql.files.ignoreMissingFiles
        # =true would turn that raise into a silently row-short published
        # base — assert the conf here so the property is pinned, not
        # assumed (it is false by default; a deployment flipping it
        # globally must scope it away from compaction).
        if (
            self.spark.conf.get("spark.sql.files.ignoreMissingFiles", "false")
            == "true"
        ):
            raise RuntimeError(
                "compact() requires spark.sql.files.ignoreMissingFiles=false: "
                "with it true, a compaction racing another process's "
                "retirement would publish a base snapshot missing rows "
                "instead of failing and retrying"
            )

        fs, hpath = self._fs()
        # committed_only: under the async service this listing races the
        # ingest thread's in-flight parquet job — see delta_batches.
        batches = self.delta_batches(committed_only=True)
        if not batches:
            return
        through = max(batches)
        log = self._base_log
        commits = log.entries()
        versions = self._base_versions(commits)
        # Heal crash garbage (CommitLog.heal). Done here, not in
        # _base_versions: reads are hot and pin a one-listing contract;
        # compaction is rare and already walking the timeline.
        for _, _, uri in versions:
            log.heal(uri)
        if versions and through <= versions[-1][1]:
            return  # every live delta dir is already folded — nothing to do
        # read() applies exactly the deltas newer than the current base
        # version, UPPER-BOUNDED at the listing this compaction records as
        # compacted-through — a batch appended while the merge runs stays
        # OUT of the published snapshot (it remains a live delta), keeping
        # read_version's "no later deltas" contract exact under the race.
        # No extra materialization barrier is needed before publishing:
        # the stage-write below fully computes the snapshot BEFORE the
        # rename publish and the retirement pass, our own retirement only
        # touches dirs ≤ prev_through (which this plan never scans — read
        # applies deltas strictly newer than the current base), and a
        # racing compaction's retention keeps the base version this plan
        # reads (two-newest rule). The former eager localCheckpoint here
        # computed the whole merge twice per compaction.
        # A transient read failure RAISES in read() (async service retries
        # next trigger), never collapses to "no base"/"no deltas" —
        # publishing from a silently-partial read is permanent data loss.
        merged = self.read(_upper_batch=through)
        if self.compact_target_files:
            merged = merged.coalesce(self.compact_target_files)
        stage = f"{self.path}/__stage/{uuid.uuid4().hex}"
        try:
            merged.write.mode("overwrite").parquet(stage)
            # Schema-as-of rides inside the version commit (read_version
            # applies it; see _embedded_commit_schema).
            _embed_commit_schema(self.spark, stage, merged.schema)
            # Name = seq + compacted-through: allocation passes every
            # claimed name; retention keeps the two newest versions
            # (in-flight readers of the previous one finish on immutable
            # files).
            published = log.publish(commits, stage, tag=f"t{through + 1:012d}")
        except BaseException:
            # A failed stage write is a full-table snapshot of garbage —
            # without this cleanup a deterministically-failing ASYNC
            # service would leak one per trigger, forever.
            try:
                fs.delete(hpath(stage), True)
            except Exception:
                pass
            raise
        if not published:
            # Lost the race to a concurrent compaction; its snapshot folds
            # the same (or more) deltas. Do not retire.
            return
        prev_through = versions[-1][1] if versions else -1
        # Retire from the RAW listing: any dir ≤ prev_through was folded
        # by the previous version whether or not its _SUCCESS marker still
        # exists (read() applies no marker filter) — retiring only the
        # committed-only listing would leak a marker-stripped dir forever.
        for b in self.delta_batches():
            if b > prev_through:
                continue  # deferred: retired by the NEXT compaction
            try:
                fs.delete(hpath(f"{self._delta()}/ingest_batch={b}"), True)
            except Exception:
                pass
