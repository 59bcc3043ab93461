"""Filesystem commit primitives shared by the table / rollup publish
protocols (table.KeyedTable._publish_snapshot, streaming.rollup).

Every publish is a named-commit CAS — "make this staged directory the
content of commit NAME, iff NAME is unclaimed" — behind a pluggable
protocol picked per path scheme (``commit_protocol``):

**rename** (HDFS, local — stores with atomic directory rename): stage a
directory, rename it to the commit name; the rename IS the CAS. One
Hadoop quirk breaks that premise on LocalFileSystem (and any
POSIX-`mv`-semantics store): renaming a directory onto an EXISTING
directory moves the source INSIDE the target and still returns true —
the loser's commit would silently nest inside the winner's, corrupting
reads of that commit. `rename_commit` closes the hole: pre-check,
rename, then detect-and-undo the move-into case (stage basenames are
uuids, so the nested-name probe cannot collide with real commit
content). On HDFS the extra probes are two cheap namenode calls.

**pointer** (S3/GCS/ABFS — object stores, where directory "rename" is a
non-atomic copy+delete that can tear mid-commit): the staged directory
is never moved; the CAS is the atomic creation of a tiny single FILE
``<name>.commit`` whose content is the staged directory's path — the
Delta/Iceberg commit-pointer shape. Object stores CAN create one object
conditionally (S3 conditional PUT / If-None-Match, GCS
x-goog-if-generation-match:0; through Hadoop: ``FileSystem.create``
with ``overwrite=false`` and ``fs.s3a.create.conditional.enabled=true``
on Hadoop >= 3.4.1), so the claim is atomic where directory rename is
not. The claim carries its CONTENT in the same atomic operation — on a
conditional-create store the object materializes fully written at
``close()`` (one conditional PUT), and on the local filesystem the
pointer is hard-linked into place already filled (link(2) fails EEXIST
atomically) — so there is NO visible-but-unresolved window: an
incremental publisher that merges from the newest resolved commit can
never observe a claimed-newer-but-empty tip from a LIVE writer and
build past it (that was a silent lost update; see pointer_commit).
An empty or unreadable pointer therefore has one meaning: NEVER
PUBLISHED (a crashed claim from an older two-step writer, or an external
tool). Readers skip it, name allocation counts it, retention removes it,
and nothing waits on it. Stores that can neither hard-link nor
conditionally create REFUSE the pointer protocol loudly
(``_require_conditional_create``) instead of silently degrading the
CAS to exists-check + PUT, where two writers can both "win" a name.

Every versioned directory (schema sidecar, writer lease, snapshots,
MOR base versions, rollup commits) goes through one ``CommitLog``:
list, allocate past every claimed name, CAS-publish, verify, retain.

Protocol selection: ``SPARK_GRAFT_COMMIT_PROTOCOL`` env
(``rename``/``pointer``) overrides for tests and fuzz lanes; otherwise
object-store URI schemes get pointer, everything else rename."""

from __future__ import annotations

import os
import re
import uuid
from typing import NamedTuple

#: URI schemes whose directory rename is copy+delete (non-atomic): the
#: rename-CAS can tear there, so commits go through the pointer protocol.
_OBJECT_STORE_SCHEMES = frozenset(
    {"s3", "s3a", "s3n", "gs", "oss", "cos", "swift", "wasb", "wasbs",
     "abfs", "abfss"}
)


def commit_protocol(path: str) -> str:
    """``"rename"`` or ``"pointer"`` for commits under ``path``. The env
    override exists so the pointer path is drivable (tests, crash-injection
    fuzz lanes) on the local filesystem."""
    env = os.environ.get("SPARK_GRAFT_COMMIT_PROTOCOL")
    if env in ("rename", "pointer"):
        return env
    return "pointer" if _object_store(path) else "rename"


def _object_store(path: str) -> bool:
    return ":" in path and path.split(":", 1)[0].lower() in _OBJECT_STORE_SCHEMES


def rename_commit(
    fs,
    hpath,
    stage: str,
    target: str,
    _test_before_rename=None,
    _test_after_rename=None,
) -> bool:
    """Publish ``stage`` as ``target`` with CAS semantics: True iff this
    call made ``target`` exist with exactly the staged content. Returns
    False (leaving ``stage`` in place for the caller to retry or clean
    up) when a concurrent writer holds the name.

    The verdict is decided by a CAS WITNESS, not by nested-dir absence: a
    zero-byte ``._cas_<stage-uuid>`` file is written into the stage before
    the rename, and the publish counts as won iff that witness sits at the
    TARGET TOP LEVEL afterwards. The historical verdict ("no nested dir
    under target ⇒ we won") had a silent lost-update window found by the
    round-12 gate run of the threaded rollup hunt: when a lost CAS
    degrades to LocalFileSystem's non-atomic copy-INTO (our stage becomes
    ``target/<uuid>/``), a CONCURRENT scanner's crash-garbage heal
    (rollup._scan / KeyedTable.snapshots delete directory members of
    published commits) can remove that nested copy between our rename
    returning and our nested-exists probe — the loser then saw a clean
    target, reported True, and its batch was durably gone while the
    (run, batch) marker it thought it published was deleted with the
    nested dir. The witness is writer-unique (stage names are uuids), so
    no heal or concurrent writer can fake it. On a WON publish the
    witness is removed afterwards (post-CAS cosmetic — a crash before
    that delete leaves a dot-file that every reader, scanner and the
    marker regexes already ignore).

    ``_test_before_rename`` / ``_test_after_rename`` are race-injection
    seams for the deterministic regression test (create the winner between
    the exists-probe and the rename; run the concurrent heal between the
    rename and the verdict). Never passed in production code."""
    if fs.exists(hpath(target)):
        return False
    base = stage.rstrip("/").rsplit("/", 1)[-1]
    witness = f"._cas_{base}"
    fs.createNewFile(hpath(f"{stage}/{witness}"))
    if _test_before_rename is not None:
        _test_before_rename()
    try:
        renamed = fs.rename(hpath(stage), hpath(target))
    except Exception:
        # LocalFileSystem implements rename-onto-an-EXISTING-directory as
        # a NON-ATOMIC FileUtil.copy fallback (RawLocalFileSystem.rename),
        # and a concurrent scanner's crash-garbage heal can delete the
        # half-copied nested dir mid-copy — the copy then dies with
        # FileNotFoundException on its next destination file. Semantically
        # that is just a LOST CAS (a winner holds the name): clean any
        # partial nested copy best-effort and report failure; the stage is
        # left for the caller per the contract (the failed copy does not
        # consume it). Found by the threaded rollup hunt
        # (tests/test_concurrency_hunt.py).
        try:
            fs.delete(hpath(f"{target}/{base}"), True)
        except Exception:
            pass
        return False
    if _test_after_rename is not None:
        _test_after_rename()
    if not renamed:
        return False
    if fs.exists(hpath(f"{target}/{witness}")):
        # Our stage IS the commit. Drop the (now purposeless) witness;
        # failure to delete is harmless — dot-files are invisible to
        # parquet readers, list_commits, and the commit-member scans.
        try:
            fs.delete(hpath(f"{target}/{witness}"), False)
        except Exception:
            pass
        return True
    # Lost CAS: either our content sits nested under the winner
    # (POSIX move-INTO / copy fallback — undo it) or a concurrent heal
    # already removed it. Either way the name belongs to someone else.
    # Residual window: a crash BETWEEN the rename and this delete leaves
    # the stage nested inside the winner's commit — readers heal that via
    # CommitLog.heal on the listing path (commit dirs are flat by
    # protocol, so any directory member is crash garbage).
    try:
        fs.delete(hpath(f"{target}/{base}"), True)
    except Exception:
        pass
    return False


def _fs_is_local(fs) -> bool:
    """True iff the RESOLVED FileSystem client is the local filesystem.
    The hard-link claim must be gated on this, not on path shape: a
    scheme-less ``/table`` path resolves through ``fs.defaultFS``, and
    with ``hdfs://`` as the default (the documented env-override HDFS
    pointer path) a shape-only gate would hard-link the pointer onto the
    DRIVER'S local disk while every fs.exists/list_commits consults HDFS —
    publish_commit "succeeds" but no reader ever sees the commit, and two
    drivers on different nodes can both win the same name."""
    try:
        return str(fs.getUri()).startswith("file:")
    except Exception:
        return False


def _local_os_path(path: str) -> str | None:
    """OS filesystem path for a local path/URI (``/p``, ``file:/p``,
    ``file:///p``, ``file://localhost/p``), else None. One of the TWO
    gates for the hard-link claim in ``pointer_commit`` — link(2) only
    exists on a real local filesystem, and the resolved FileSystem must
    agree (``_fs_is_local``): a scheme-less path under a non-local
    fs.defaultFS is NOT local even though it starts with ``/``."""
    if path.startswith("/"):
        return path
    if not path.startswith("file:"):
        return None
    tail = path[len("file:"):]
    if tail.startswith("//"):
        tail = tail[2:]
        slash = tail.find("/")
        if slash == -1:
            return None
        host, tail = tail[:slash], tail[slash:]
        if host not in ("", "localhost"):
            return None
    return tail or None


#: Conditional-create capability, probed once per FileSystem URI. Keyed on
#: the fs client, not the path: the capability is a property of the store
#: (+ its Hadoop connector version/config), identical for every path on it.
_CONDITIONAL_CREATE_OK: dict[str, bool] = {}


def _require_conditional_create(fs, hpath, path: str) -> None:
    """Fail LOUDLY when the pointer CAS cannot actually be atomic on this
    store. On object stores, ``fs.create(path, overwrite=false)`` is only a
    real compare-and-swap when the connector issues a conditional PUT
    (S3A: Hadoop >= 3.4.1 with ``fs.s3a.create.conditional.enabled``);
    without it the call degrades to exists-check + PUT, where two writers
    can both "win" the same commit name and the later close() silently
    clobbers the earlier pointer — the exact torn-commit class the pointer
    protocol exists to close. Probed via ``hasPathCapability`` with the
    documented config flag as the fallback signal; non-object-store
    schemes (HDFS-semantics stores reached via the env override) pass
    unconditionally — their ``create(overwrite=false)`` is an atomic
    namenode operation already."""
    if not _object_store(path):
        return
    scheme = path.split(":", 1)[0].lower()
    key = str(fs.getUri())
    ok = _CONDITIONAL_CREATE_OK.get(key)
    if ok is None:
        ok = False
        for cap in (
            "fs.capability.conditional.create",
            "fs.capability.create.conditional",
        ):
            try:
                if fs.hasPathCapability(hpath(path), cap):
                    ok = True
                    break
            except Exception:
                pass
        if not ok and scheme in ("s3", "s3a", "s3n"):
            try:
                ok = bool(
                    fs.getConf().getBoolean(
                        "fs.s3a.create.conditional.enabled", False
                    )
                )
            except Exception:
                ok = False
        _CONDITIONAL_CREATE_OK[key] = ok
    if not ok:
        raise RuntimeError(
            f"pointer commit protocol requires atomic conditional create on "
            f"{scheme}:// but the FileSystem reports no such capability — "
            "on S3A this needs Hadoop >= 3.4.1 with "
            "fs.s3a.create.conditional.enabled=true. Refusing to publish "
            "through a non-atomic CAS (two writers could both claim one "
            "commit name). Enable conditional create, or set "
            "SPARK_GRAFT_COMMIT_PROTOCOL=rename if this store has atomic "
            "directory rename."
        )


def pointer_commit(fs, hpath, stage: str, target: str) -> bool:
    """Publish ``stage`` as commit ``target`` WITHOUT moving it: atomically
    create the single pointer file ``<target>.commit`` ALREADY FILLED with
    the staged directory's path (the CAS — see the module docstring for
    why this is the object-store-safe shape). True iff this call claimed
    the name; on False the stage is left in place for the caller, exactly
    like ``rename_commit`` (the pointer CAS never consumes the stage).

    Claim and fill are ONE atomic operation — the round-10 two-step shape
    (createNewFile, then write) left a visible-but-unresolved window in
    which an incremental publisher (rollup, schema sidecar) could merge
    from the stale resolved tip while allocating past the in-flight name,
    publishing a successor that silently excluded the in-flight commit.
    Local filesystem: content is written to a temp sibling and hard-linked
    to the pointer name (link(2) fails EEXIST atomically; the name appears
    fully written or not at all). Object stores: ``create(overwrite=false)``
    + write + close is a single conditional PUT — the object materializes
    with content at close() — guarded by ``_require_conditional_create``.
    Other stores (HDFS semantics, reached via the env override): content
    is written to a dot-file inside the stage and renamed onto the pointer
    name — HDFS refuses a rename onto an existing file, so that rename is
    the CAS, and a claim that crashes before it leaves the temp file in
    the stage (crash garbage of the stage tree), never in the commit
    directory.

    Readers resolve the pointer through ``list_commits``; an empty pointer
    (a crashed claim from an older two-step writer, or external tooling)
    resolves to ``content=None``: never published."""
    ptr = f"{target}.commit"
    if fs.exists(hpath(target)) or fs.exists(hpath(ptr)):
        return False
    data = stage.encode("utf-8")
    # Hard-link branch requires BOTH a local-shaped path AND a local
    # resolved FileSystem (see _fs_is_local) — a scheme-less path under
    # hdfs:// defaultFS must fall through to the namenode rename CAS below.
    local = _local_os_path(ptr) if _fs_is_local(fs) else None
    if local is not None:
        os.makedirs(os.path.dirname(local), exist_ok=True)
        tmp = f"{local}.fill{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "wb") as fh:
                fh.write(data)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, local)
            except FileExistsError:  # lost the CAS to a concurrent writer
                return False
            except OSError as e:
                # Anything OTHER than EEXIST is not a lost CAS — it is the
                # store refusing link(2) itself (FUSE/NFS/overlay mounts
                # without hard-link support). Returning False here would
                # make every attempt "lose", burn 5 fresh seq names and
                # die with a misleading rename-failure error; refuse
                # loudly with the real cause instead.
                raise RuntimeError(
                    f"pointer commit at {local}: this filesystem refused "
                    f"hard links ({e.strerror or e}) — the local pointer "
                    "CAS needs link(2). Use "
                    "SPARK_GRAFT_COMMIT_PROTOCOL=rename on this store, or "
                    "move the table to a link-capable filesystem."
                ) from e
            return True
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass
    if not _object_store(ptr):
        tmp = f"{stage}/._ptr_{uuid.uuid4().hex}.tmp"
        write_small_file(fs, hpath, tmp, data)
        try:
            won = bool(fs.rename(hpath(tmp), hpath(ptr)))
        except Exception:
            won = False
        if not won:
            try:
                fs.delete(hpath(tmp), False)
            except Exception:
                pass
        return won
    _require_conditional_create(fs, hpath, ptr)
    try:
        out = fs.create(hpath(ptr), False)
    except Exception:
        return False  # FileAlreadyExists — lost the CAS
    try:
        out.write(bytearray(data))
        out.close()
    except Exception:
        # close() is where the conditional PUT lands on object stores — a
        # failure here IS a lost CAS (nothing materialized, or a racer won).
        return False
    return True


def publish_commit(fs, hpath, stage: str, target: str) -> bool:
    """Protocol-dispatched commit publish (CAS on the commit name). Both
    protocols share the caller contract: True = the commit exists with the
    staged content; False = lost the name to a concurrent writer — retry
    with a fresh name or give up, deleting the stage IF it still exists
    (the rename protocol's move-INTO undo may have consumed it)."""
    if commit_protocol(target) == "pointer":
        return pointer_commit(fs, hpath, stage, target)
    return rename_commit(fs, hpath, stage, target)


def list_commits(fs, hpath, spark, dir_path: str) -> list[tuple[str, str | None]]:
    """Commits under ``dir_path`` as (name, content_uri) pairs, unsorted —
    callers filter by their name pattern and sort. Directory members are
    rename-protocol commits (content = the directory itself); ``*.commit``
    files are pointers (content = the staged dir they name, or None for a
    pointer that was never published — callers skip None for reads but
    still treat the NAME as allocated). One listing plus one small-file
    read per pointer; rename-protocol tables pay no extra I/O."""
    try:
        if not fs.exists(hpath(dir_path)):
            return []
        listed = fs.listStatus(hpath(dir_path))
    except Exception:
        return []
    dirs: dict[str, str] = {}
    ptrs: dict[str, str | None] = {}
    for st in listed:
        name = st.getPath().getName()
        if st.isDirectory():
            dirs[name] = str(st.getPath())
        elif name.endswith(".commit"):
            try:
                data = read_small_file(fs, hpath, spark, str(st.getPath()))
                content = data.decode("utf-8").strip() if data else None
            except Exception:
                content = None
            if content and not fs.exists(hpath(content)):
                content = None  # retention deleted the content first: torn
            ptrs[name[: -len(".commit")]] = content or None
    # A name claimed BOTH ways can only come from flipping the protocol env
    # mid-table; the directory form is self-contained — it wins.
    ptrs.update(dirs)
    return list(ptrs.items())


def delete_commit(fs, hpath, dir_path: str, name: str, content: str | None) -> None:
    """Retention-delete one commit, protocol-agnostic and best-effort.
    Pointer first, content second: a reader that already resolved the
    pointer may still scan the (immutable) content files, same retention
    race as the rename protocol; deleting content FIRST would leave a
    live pointer to nothing — a torn commit readers would trip on."""
    ptr = f"{dir_path}/{name}.commit"
    try:
        if fs.exists(hpath(ptr)):
            fs.delete(hpath(ptr), False)
    except Exception:
        pass
    for victim in (content, f"{dir_path}/{name}"):
        if not victim:
            continue
        try:
            fs.delete(hpath(victim), True)
        except Exception:
            pass


class Commit(NamedTuple):
    """One claimed name of a ``CommitLog``. ``uri`` is None for a pointer
    that was never published (empty or dangling)."""

    seq: int
    tag: str | None
    name: str
    uri: str | None


class CommitLog:
    """A versioned directory of immutable commits named
    ``<prefix><seq:012d>[_<tag>]`` — the one commit loop behind the schema
    sidecar (``v``), the writer lease (``e``), KeyedTable snapshots
    (``s``), MOR base versions (``v…_t<through>``) and rollup commits
    (``c``).

    A publish allocates the seq past every CLAIMED name (never-published
    pointers included), CAS-publishes the stage under it
    (``publish_commit``), then lists once more. Retention deletes old
    names, and a deleted name can be claimed again, so a publisher that
    listed before three rival publishes can win a name BELOW the tip; its
    content would never reach the newest commit. The post-win listing
    catches that: any claimed name sorting above the won one makes the
    publish a lost CAS, so the caller rebuilds on the real tip.
    Publishers only ever build on the newest published name, so a stale
    entry is never built on. Retention trims from that same post-win
    listing.

    The check cannot tell a stale entry from one that a successor listed,
    built on and published above inside the window between the win and
    that listing. So a lost entry is only deleted when it falls outside
    the ``keep`` newest published names. A stale entry lies there when
    retention freed its name as a published commit (it did so under
    ``keep`` newer ones); one freed as a never-published pointer may not,
    and stays as an orphan below the tip until retention trims it. An
    entry a successor built on stays inside, so readers bound to it keep
    the documented window. Callers' rebuilds after such a false loss must
    be idempotent: the schema union, the lease and snapshot re-claims
    are, and a rollup finds its batch in the successor's manifest.

    Every FileSystem call resolves ``hadoop_fs``/``list_commits``/
    ``publish_commit`` through this module's globals at call time."""

    def __init__(self, spark, dir_path: str, prefix: str) -> None:
        self.spark = spark
        self.dir = dir_path
        self.prefix = prefix
        self._name_re = re.compile(rf"^{re.escape(prefix)}(\d{{12}})(?:_(.+))?$")

    def fs(self):
        return hadoop_fs(self.spark, self.dir)

    def entries(self, fs=None, hpath=None) -> list[Commit]:
        """Every claimed name, oldest first (by seq, then name). Pass
        ``(fs, hpath)`` when already resolved for this directory."""
        if fs is None:
            fs, hpath = self.fs()
        out = []
        for name, uri in list_commits(fs, hpath, self.spark, self.dir):
            m = self._name_re.match(name)
            if m:
                out.append(Commit(int(m.group(1)), m.group(2), name, uri))
        out.sort(key=lambda c: (c.seq, c.name))
        return out

    def attempts(self):
        """Fresh listings for a publish loop, until 5 listings in a row
        show no new claimed name. A lost CAS whose winner moved the tip is
        progress — the caller rebuilds on it — so only stalled attempts
        (persistent FS trouble) use up the budget."""
        stalled, top = 0, -2
        while stalled < 5:
            entries = self.entries()
            new_top = entries[-1].seq if entries else -1
            stalled = 0 if new_top > top else stalled + 1
            top = new_top
            yield entries

    def publish(
        self,
        entries: list[Commit],
        stage: str,
        tag: str | None = None,
        keep: int = 2,
    ) -> bool:
        """CAS-publish ``stage`` as the next name past ``entries`` (the
        caller's listing). True: it is the newest claimed name, and
        retention kept it and the ``keep - 1`` newest published names
        below it, deleting the rest (never-published pointers included).
        False: lost — rebuild on a fresh listing with a fresh stage. The
        stage is no longer the caller's: it was deleted, or it is the
        content of an entry kept inside the ``keep`` window."""
        fs, hpath = self.fs()
        seq = entries[-1].seq + 1 if entries else 0
        name = f"{self.prefix}{seq:012d}" + (f"_{tag}" if tag else "")
        fs.mkdirs(hpath(self.dir))
        if not publish_commit(fs, hpath, stage, f"{self.dir}/{name}"):
            try:
                fs.delete(hpath(stage), True)
            except Exception:
                pass
            return False
        after = self.entries(fs, hpath)
        published = [c.name for c in after if c.uri is not None]
        if after and (after[-1].seq, after[-1].name) > (seq, name):
            if name not in published[-keep:]:
                mine = next((c.uri for c in after if c.name == name), None)
                delete_commit(fs, hpath, self.dir, name, mine)
            return False
        kept = set(published[-keep:])
        for c in after:
            if c.name not in kept:
                delete_commit(fs, hpath, self.dir, c.name, c.uri)
        return True

    def heal(self, uri: str) -> list[str] | None:
        """File names of one published commit, after deleting its
        DIRECTORY members; None when the commit is gone (retention).

        Commits are FLAT (parquet parts, _SUCCESS, markers). The one way a
        subdirectory appears is ``rename_commit``'s move-INTO undo dying
        between its rename and its delete — the loser's stage nested in
        the winner's commit, which breaks parquet reads of it. In-flight
        stages live in a sibling tree, never inside a commit, so deleting
        directory members here only removes crash garbage."""
        fs, hpath = self.fs()
        try:
            members = fs.listStatus(hpath(uri))
        except Exception:
            return None
        names = []
        for st in members:
            if st.isDirectory():
                fs.delete(st.getPath(), True)
            else:
                names.append(st.getPath().getName())
        return names


def hadoop_fs(spark, path: str):
    """Resolve (FileSystem, Path-class) for ``path`` — the one shared
    getter behind every rename-commit call site (KeyedTable snapshots,
    DeltaLogTable versions, rollup commits). Resolving PER PATH matters on
    mixed deployments: the scheme (file://, hdfs://, s3a://) picks the
    FileSystem implementation, so a table on object storage and a
    checkpoint on HDFS get their own clients."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def write_small_file(fs, hpath, path: str, data: bytes) -> None:
    """Create/overwrite one small file through the table's FileSystem (same
    client the commit protocol uses, so scheme/permissions behavior
    matches the data files). Used for the schema-sidecar commits — the
    bytes are staged into a directory and published via rename_commit, so
    this write itself needs no atomicity."""
    out = fs.create(hpath(path), True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def read_small_file(fs, hpath, spark, path: str) -> bytes | None:
    """Read one small file fully, or None when missing. Corrupt/unreadable
    content raises at the caller's json/schema parse — callers treat that
    as 'no sidecar' and fall back to footer inference."""
    if not fs.exists(hpath(path)):
        return None
    stream = fs.open(hpath(path))
    try:
        return bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()


def parquet_data_exists(spark, path: str) -> bool:
    """Cheap existence probe: does ``path`` hold at least one parquet data
    file? One recursive FS listing, short-circuited at the first
    ``*.parquet`` hit — ~5 ms of filesystem calls where the historical
    DataFrame-construction probe (``spark.read.parquet`` + forced
    analysis) paid ~90 ms of py4j/footer work per call; hot CDC paths
    (KeyedTable.upsert, the IVM refresh) probe existence once or more per
    batch, so the old cost was ~2 s of a 24 s five-batch IVM replay.

    Contract matches the MISSING/EMPTY mapping of
    ``read_parquet_if_present``: a missing directory or one with no
    ``*.parquet`` file anywhere below it (Spark's writers always suffix
    data files ``.parquet``; ``_SUCCESS``/sidecar files don't match) is
    False; any listing failure other than not-found RAISES. A corrupt
    FOOTER now surfaces at the subsequent read/merge instead of inside
    the probe — still loud, and on the merge path, so a footer blip can
    never route a caller to its bootstrap-overwrite branch (the wipe
    hazard the narrow contract exists to prevent — this probe errs only
    toward exists=True)."""
    fs, hpath = hadoop_fs(spark, path)
    p = hpath(path)
    saw_visible = False
    try:
        if not fs.exists(p):
            return False
        root = fs.getFileStatus(p).getPath().toUri().getPath().rstrip("/")
        it = fs.listFiles(p, True)
        while it.hasNext():
            f = it.next().getPath()
            # Hidden/underscore path segments below the root (_temporary
            # crash garbage, .staging) are invisible to Spark's reader —
            # they must be invisible to the probe too, or a crashed
            # first write's half-committed task files would flip an
            # EMPTY verdict to exists=True.
            rel = f.toUri().getPath()[len(root):].lstrip("/")
            if any(seg[:1] in ("_", ".") for seg in rel.split("/")):
                continue
            if f.getName().endswith(".parquet"):
                return True
            saw_visible = True
    except Exception as e:  # noqa: BLE001 — map only not-found to False
        if "FileNotFound" in type(e).__name__ or "FileNotFound" in str(e):
            return False
        raise
    if saw_visible:
        # Visible data files, none suffixed ``.parquet``: this system's own
        # writes always suffix, but an EXTERNAL writer's may not — deciding
        # "missing" on the suffix alone would route KeyedTable.upsert to
        # its bootstrap-overwrite branch and silently wipe that data
        # (ADVICE r12). Fall back to the authoritative reader probe, which
        # keeps the narrow contract: readable → True, MISSING/EMPTY →
        # False, anything else raises.
        return read_parquet_if_present(spark, path) is not None
    return False


def table_swap_journal(path: str) -> str:
    """Sibling journal file for the stage-and-swap table publish
    (``swap_table_dir``): present iff a swap is in flight or was torn by
    a crash. Kept next to the table dir (like ``__schema``/``__writer``)
    so renaming the table dir itself never moves it."""
    return f"{path}__swap.journal"


def _swap_journal_entry(fs, hpath, spark, journal: str):
    """(stage, retire) recorded in a swap journal, or (None, None) when it
    is unreadable (a crash during the journal write itself)."""
    import json as _json

    try:
        data = read_small_file(fs, hpath, spark, journal)
        if data:
            j = _json.loads(data.decode("utf-8"))
            return j["stage"], j["retire"]
    except Exception:
        pass
    return None, None


def resolve_table_swap(spark, path: str) -> str:
    """The directory a READER of table ``path`` should scan, resolved
    without repairing anything: readers never mutate table state, because
    a journal is also present during a healthy, in-flight swap, and a
    reader that healed it would delete or move the writer's stage under
    it. Between the swap's two renames the table dir is missing and the
    staged table is complete, so the reader is served the stage (the
    state the publish, or a writer's heal, rolls forward to); with the
    stage gone too it is served the retired copy. Every other shape reads
    ``path`` itself. One fs.exists when no journal is present."""
    fs, hpath = hadoop_fs(spark, path)
    journal = table_swap_journal(path)
    if not fs.exists(hpath(journal)) or fs.exists(hpath(path)):
        return path
    for candidate in _swap_journal_entry(fs, hpath, spark, journal):
        if candidate and fs.exists(hpath(candidate)):
            return candidate
    return path


def recover_table_swap(spark, path: str) -> None:
    """Heal a torn stage-and-swap publish left by a process kill. Only
    the table's writer (the lease holder) may call this; readers use
    ``resolve_table_swap``.

    Invariant the journal protocol guarantees: the journal is written
    only AFTER the staged table directory is fully written, and deleted
    only AFTER the swap is complete (or rolled back). So when a journal
    exists, exactly one of these crash windows happened, each with one
    correct repair:

    - table dir + stage both present → crash before any rename: nothing
      was published; drop the orphan stage and the journal (the caller's
      at-least-once redelivery re-applies the batch).
    - table dir missing, stage present → crash between retire and
      publish: the staged table is COMPLETE — roll the swap forward.
    - table dir missing, stage missing → the retired copy is the only
      one: roll back (rename retire → table).
    - table dir present, stage missing → the swap completed, the crash
      hit cleanup: just clear the journal and the retired copy.

    A half-written (unparseable) journal can only mean the crash hit the
    journal write itself — before any rename — so the table is intact and
    the journal is dropped. The one unrepairable shape (no journal
    content AND no table dir) raises instead of guessing: silently
    returning would let ``KeyedTable.upsert`` take its
    bootstrap-overwrite branch and wipe the table down to one batch.

    No-op (one fs.exists) when no journal is present — the steady state
    every write pays."""
    fs, hpath = hadoop_fs(spark, path)
    journal = table_swap_journal(path)
    if not fs.exists(hpath(journal)):
        return
    stage, retire = _swap_journal_entry(fs, hpath, spark, journal)
    if stage is None:
        if fs.exists(hpath(path)):
            fs.delete(hpath(journal), False)
            return
        raise RuntimeError(
            f"torn table swap at {path}: journal unreadable and the table "
            f"directory is missing — refusing to guess (look under "
            f"{path}__retire / {path}__stage)"
        )
    have_path = fs.exists(hpath(path))
    have_stage = fs.exists(hpath(stage))
    if have_path and have_stage:
        fs.delete(hpath(stage), True)
    elif not have_path and have_stage:
        if not fs.rename(hpath(stage), hpath(path)):
            raise RuntimeError(
                f"table swap recovery: roll-forward rename {stage} -> "
                f"{path} failed"
            )
    elif not have_path:
        if not (
            retire
            and fs.exists(hpath(retire))
            and fs.rename(hpath(retire), hpath(path))
        ):
            raise RuntimeError(
                f"torn table swap at {path}: table, stage and retired copy "
                "all missing — refusing to let a bootstrap wipe the table"
            )
    fs.delete(hpath(journal), False)
    if retire:
        try:
            fs.delete(hpath(retire), True)
        except Exception:
            pass


def swap_table_dir(
    spark,
    path: str,
    stage: str,
    _test_after_journal=None,
    _test_after_retire=None,
    _test_after_publish=None,
) -> None:
    """Publish the fully-written directory ``stage`` AS the table ``path``
    with two atomic directory renames instead of a second full write —
    the stage-and-swap COW commit (guide §6): the caller computes the
    merge ONCE straight into the stage, then this swap makes it the
    table. Only valid where directory rename is atomic
    (``commit_protocol(path) == "rename"``); object-store tables keep the
    in-place overwrite.

    Crash safety: every window is journaled (``table_swap_journal``) and
    healed by ``recover_table_swap`` — strictly smaller exposure than the
    in-place Spark overwrite it replaces, whose delete-then-rewrite
    leaves the table empty/partial for the whole write, with no repair
    record at all. Single-writer context (the caller holds the
    WriterLease), so the journal needs no CAS.

    ``_test_after_*`` are crash-injection seams for the deterministic
    recovery tests; never passed in production code."""
    import json as _json

    recover_table_swap(spark, path)  # clear any stale torn swap first
    fs, hpath = hadoop_fs(spark, path)
    retire = f"{path}__retire/{uuid.uuid4().hex}"
    journal = table_swap_journal(path)
    write_small_file(
        fs,
        hpath,
        journal,
        _json.dumps({"stage": stage, "retire": retire}).encode("utf-8"),
    )
    if _test_after_journal is not None:
        _test_after_journal()
    if fs.exists(hpath(path)):
        fs.mkdirs(hpath(f"{path}__retire"))
        if not fs.rename(hpath(path), hpath(retire)):
            fs.delete(hpath(journal), False)
            raise RuntimeError(f"table swap: could not retire {path}")
    if _test_after_retire is not None:
        _test_after_retire()
    if not fs.rename(hpath(stage), hpath(path)):
        try:
            if fs.exists(hpath(retire)):
                fs.rename(hpath(retire), hpath(path))
        finally:
            fs.delete(hpath(journal), False)
        raise RuntimeError(
            f"table swap: could not publish {stage} as {path}"
        )
    base = stage.rstrip("/").rsplit("/", 1)[-1]
    if fs.exists(hpath(f"{path}/{base}")):
        # The destination reappeared between retire and publish (an
        # external writer bypassing the lease): LocalFileSystem's rename
        # moved the stage INSIDE it. Undo and fail loudly rather than
        # serve a nested half-table. The journal goes (a recovery would
        # read "swap completed" and delete the retired copy), so the error
        # is the one record of where the pre-swap table now lives.
        fs.delete(hpath(f"{path}/{base}"), True)
        fs.delete(hpath(journal), False)
        raise RuntimeError(
            f"table swap: {path} was recreated mid-swap by a writer "
            f"outside the lease — publish aborted; the pre-swap table is "
            f"kept at {retire}"
        )
    if _test_after_publish is not None:
        _test_after_publish()
    fs.delete(hpath(journal), False)
    try:
        fs.delete(hpath(retire), True)
        # Drop the (now empty) __retire parent; non-recursive delete
        # refuses a non-empty dir, so a concurrent retire is never touched.
        fs.delete(hpath(f"{path}__retire"), False)
    except Exception:
        pass


def read_parquet_if_present(spark, path: str):
    """Parquet read with the NARROW missing-vs-broken distinction used by
    every bootstrap-or-merge decision (KeyedTable.exists, the SCD2 fold):
    returns the DataFrame, or None iff the table is MISSING/EMPTY
    (PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA). Any other read failure
    (transient FS error, corrupt footer, permissions) RAISES — treating a
    blip as "missing" would let the caller's bootstrap-overwrite wipe the
    table down to one batch. One definition so a Spark upgrade that
    renames a condition is fixed in one place."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
        df.schema  # force analysis so the probe happens HERE, not later
        return df
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
