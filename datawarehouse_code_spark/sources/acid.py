"""Atomic table writes on plain parquet: staged overwrites under a
writer lease.

The reference's load pattern relies on MySQL transactions
(warehouse.py:50,65).  Here every writer is plain parquet with the
job-commit / staged-rename protocol: atomic per WRITER, not isolated
from concurrent readers.  A table format with a transaction log
(Delta, Iceberg) would add snapshot isolation; this package does not
use one.

Single-writer-per-table is ENFORCED, not assumed: every mutator here
runs its whole read-merge-write under the table's writer lease
(``<table>._wlock``, defined below and shared with
sources/bucketed.py), because two concurrent whole-table writers
race on the same ``._staging``/``._old`` names — interleaved swap
renames can mix or vanish the table — and two concurrent keyed
replaces based on the same pre-image silently drop each other's rows
(lost update).  The second writer gets ConcurrentWriterError instead.
A mutator takes ``lease=``, the handle of a lease its caller already
holds, or acquires one itself (``owner=`` is then its identity);
_leased is the one place that choice is made.

A keyed replace here rewrites the whole target.  For keyed tables
maintained per micro-batch, sources/bucketed.py is the parquet-native
middle ground: hash-bucket partitioning + partition-grain staged
swaps make replace-keyed cost O(|touched buckets|) instead of
O(corpus) (the streaming index maintainers opt in via n_buckets=).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _fs_for(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for `path` — resolves plain
    posix paths, `file:` URIs, and any filesystem the session's Hadoop
    conf knows (HDFS, object stores).  All swap/probe operations below
    go through this API so the adapter's behavior is uniform across
    schemes; note directory rename is atomic on posix/HDFS but NOT on
    S3-style object stores (there it degrades to copy+delete — the
    crash-ordering guarantee weakens to 'recoverable', not 'atomic')."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _sibling(spark: SparkSession, hpath, suffix: str):
    return spark._jvm.org.apache.hadoop.fs.Path(
        hpath.getParent(), hpath.getName() + suffix
    )


def _jpath(spark: SparkSession, parent, name: str):
    return spark._jvm.org.apache.hadoop.fs.Path(parent, name)


def _write_text(spark: SparkSession, fs, jpath, text: str) -> None:
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_text(spark: SparkSession, fs, jpath) -> str:
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


_LEASE_SUFFIX = "._wlock"

# Writer-lease staleness threshold (ACQUISITION).  A lease older than
# this is a crashed writer (process death skips the release) and may
# be stolen.  It must comfortably exceed the longest UN-HEARTBEATED
# writer phase — the staged parquet write, minutes at
# executor-comfortable sizing — because a too-small value lets a
# second writer steal a live slow writer's lease, which is the exact
# silent corruption the lease exists to prevent.  The flip side is
# crash-restart latency: after a process kill, the next writer on the
# same table is refused (loudly) until the dead lease ages out,
# unless it passes the same ``owner=`` identity to reclaim
# immediately.
LEASE_STALE_SEC = 900.0


class ConcurrentWriterError(RuntimeError):
    """A second writer attempted to mutate a table while another
    writer's lease is live — the single-writer-per-table deployment
    contract was violated.  Loud by design: two maintainers on one
    table corrupt silently without this."""


class LeaseLostError(RuntimeError):
    """The writer lease changed hands mid-operation: the holder
    stalled past the staleness threshold (GC pause, SIGSTOP, VM
    freeze) and a recoverer/second writer stole the lease.  The loser
    must STOP — mutating after the steal races the thief's writes,
    which is the one way to lose data here."""


class _Lease:
    """Handle for a held writer lease: ``payload`` is the exact bytes
    written to the lock file (owner + a per-acquisition nonce — the
    fencing token), ``heartbeat()`` bumps the staleness clock,
    ``verify()`` is the fence — it re-reads the lock file and raises
    :class:`LeaseLostError` if the token is no longer ours."""

    def __init__(self, spark, fs, jpath, payload: str):
        self._spark = spark
        self._fs = fs
        self._jpath = jpath
        self.payload = payload

    def heartbeat(self) -> None:
        try:
            self._fs.setTimes(self._jpath, int(time.time() * 1000), -1)
        except Exception as e:  # noqa: BLE001 — setTimes on a vanished
            # lock file (stolen/cleared between our verify and this
            # bump) throws a raw Java FileNotFound; that state IS
            # lease-lost, so surface it as the typed abort every
            # holder already handles instead of a Py4J error
            raise LeaseLostError(
                f"{self._jpath}: writer lease vanished at heartbeat — "
                "stolen or externally cleared; aborting before mutating"
            ) from e

    def verify(self) -> None:
        """Fence check: abort if the lease changed hands while we were
        stalled.  Every holder calls this at the boundary between a
        long un-heartbeated phase (the staged write) and a mutating
        one (marker write, renames) — a holder that stalled past the
        staleness threshold and was stolen from must NOT mutate: the
        thief owns the staging/lease now, and in the keyed-replace
        lane an un-fenced resume would write ITS commit marker into
        the THIEF's staging dir (wrong plan over wrong data if the
        thief then crashes in that window)."""
        current = None
        if self._fs.exists(self._jpath):
            try:
                current = _read_text(self._spark, self._fs, self._jpath)
            except Exception:  # noqa: BLE001 — torn read ≠ ours
                current = None
        if current != self.payload:
            raise LeaseLostError(
                f"{self._jpath}: writer lease changed hands (holder "
                "stalled past the staleness threshold and was stolen "
                "from) — aborting before mutating; the new holder owns "
                "the table now"
            )


def _is_local_fs(fs) -> bool:
    """Is this Hadoop FileSystem the local one?  Decided from the
    RESOLVED filesystem's URI, not the raw Path's — a scheme-less
    path resolves against ``fs.defaultFS`` (HDFS on a cluster), so
    testing ``path.toUri().getScheme() is None`` would route an HDFS
    table's lock through java.io on the driver's local disk while
    every other lease op ran against HDFS (r17 review find: two
    drivers could then both 'acquire' locally and race the real
    table)."""
    try:
        return fs.getUri().getScheme() in (None, "file")
    except Exception:  # noqa: BLE001 — an FS without a URI is not
        # one we can claim locally; use the generic lane
        return False


@contextmanager
def _acquisition_critical_section(spark, fs, lease):
    """Serialize the lease ACQUISITION sequence (probe → staleness
    decision → steal-rename → create) against concurrent acquirers.

    The sequence has an irreducible check-then-act gap on any
    filesystem: the staleness stat and the steal-rename are separate
    calls, so a stealer can stat a stale lease, lose the CPU, and
    rename away the FRESH lease a faster racer just created (observed
    live by the r17 threaded race test — two concurrent "holders").
    On ``file:`` URIs all acquirers are on one host, so an OS
    advisory lock on a sibling ``._wlock.arb`` file closes the gap
    outright: flock is kernel-mediated, blocks the short acquisition
    section only (never the lease's lifetime), and is released by the
    kernel on process death — no TTL story of its own.  The arb file
    is deliberately never deleted (unlinking a file others may be
    flocking is the classic lost-lock race); a 0-byte persistent
    sibling, invisible to parquet.

    On remote schemes (hdfs:) the namenode's atomic create remains
    the arbiter and the stat→rename window stands as the documented
    residual — fencing (`_Lease.verify` at every mutation boundary)
    is what bounds its blast radius there."""
    if _is_local_fs(fs):
        import fcntl

        arb = lease.toUri().getPath() + ".arb"
        os.makedirs(os.path.dirname(arb), exist_ok=True)
        with open(arb, "a") as f:
            fcntl.flock(f, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(f, fcntl.LOCK_UN)
        return
    yield


def _create_lease_exclusive(spark, fs, lease, payload: str, path: str) -> None:
    """Atomic create-if-absent of the lock file — the acquisition's
    final arbiter.  On HDFS ``fs.create(overwrite=False)`` is atomic
    at the namenode, but on ``file:`` URIs Hadoop's
    RawLocalFileSystem implements it as exists-check-then-open — two
    racers can BOTH pass the check and both "acquire" (observed live
    by the r17 threaded race test: two concurrent holders), so the
    local scheme claims via ``java.io.File.createNewFile``, which is
    O_CREAT|O_EXCL at the syscall and admits exactly one winner; the
    winner then writes its payload (the brief empty-file window reads
    as an anonymous FRESH lease — age ~0 — so observers refuse, never
    steal).  The local/remote split is decided from the RESOLVED
    filesystem (_is_local_fs), never the raw Path URI.  Object stores
    without atomic create-exclusive remain the documented residual
    caveat."""
    if _is_local_fs(fs):
        uri = lease.toUri()
        jf = spark._jvm.java.io.File(uri.getPath())
        parent = jf.getParentFile()
        if parent is not None and not parent.exists():
            parent.mkdirs()  # fs.create would auto-create parents too
        try:
            created = bool(jf.createNewFile())
        except Exception as e:  # noqa: BLE001 — IO failure ≠ race,
            # but either way we did not acquire
            raise ConcurrentWriterError(
                f"{path}: lease creation failed ({type(e).__name__})"
            ) from e
        if not created:
            raise ConcurrentWriterError(
                f"{path}: lost the lease-creation race to another "
                "writer (createNewFile: file exists)"
            )
        with open(uri.getPath(), "w", encoding="utf-8") as f:
            f.write(payload)
        return
    try:
        out = fs.create(lease, False)  # fail-if-exists: loud on races
    except Exception as e:  # noqa: BLE001 — Py4J wraps the
        # FileAlreadyExistsException; any create failure here means we
        # lost the acquisition race
        raise ConcurrentWriterError(
            f"{path}: lost the lease-creation race to another writer "
            f"({type(e).__name__})"
        ) from e
    try:
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()


def _acquire_lease(
    spark, fs, p, lease, path: str, me: str, stale: float,
    owner: str | None, payload: str,
) -> None:
    """The probe → staleness decision → steal → create sequence of
    writer_lease, factored out so _acquisition_critical_section can
    serialize it whole.  Raises ConcurrentWriterError on any lost
    race or live lease; on return the lock file exists with
    ``payload`` as its exact bytes (the fencing token)."""
    age = None
    if fs.exists(lease):
        try:
            age = (
                time.time()
                - fs.getFileStatus(lease).getModificationTime() / 1000.0
            )
        except Exception:  # noqa: BLE001 — the lease vanished between
            # the exists probe and the stat (a concurrent release or
            # steal — surfaced by the r17 threaded race test as a raw
            # Py4J FileNotFound): treat as 'no lease' and let the
            # create below arbitrate
            age = None
    if age is not None:
        try:
            held = json.loads(_read_text(spark, fs, lease)).get("owner")
        except Exception:  # noqa: BLE001 — a torn lease write (crash
            # mid-create) is unreadable; treat it as an anonymous
            # holder so the TTL still governs
            held = None
        if owner is not None and held == me:
            pass  # our own crashed incarnation: reclaim immediately
        elif age <= stale:
            raise ConcurrentWriterError(
                f"{path} has a live writer lease (owner={held!r}, "
                f"age={age:.1f}s <= stale_sec={stale:g}) — refusing a "
                "second concurrent writer (single-writer contract); "
                "if the holder is known dead, wait out the TTL or "
                "remove the ._wlock file"
            )
        # steal via rename to a unique tombstone: only ONE of N racing
        # stealers' renames can succeed (the source vanishes), so only
        # one reaches the create below — delete-then-create let both
        tomb = _sibling(
            spark, p,
            f"{_LEASE_SUFFIX}.steal-{os.getpid()}-{os.urandom(4).hex()}",
        )
        stolen = False
        try:
            stolen = bool(fs.rename(lease, tomb))
        except Exception:  # noqa: BLE001 — some FS throw instead of
            # returning false when the source vanished under us
            stolen = False
        if not stolen:
            raise ConcurrentWriterError(
                f"{path}: lost the stale-lease steal race to another "
                "writer (its rename won) — single-writer contract holds"
            )
        # a crash here leaks one uniquely-named tombstone beside the
        # table — never read by anything, never blocks acquisition
        fs.delete(tomb, False)
    _create_lease_exclusive(spark, fs, lease, payload, path)


@contextmanager
def writer_lease(
    spark: SparkSession,
    path: str,
    owner: str | None = None,
    stale_sec: float | None = None,
):
    """Hold the table's writer lease for the duration of the block.

    Acquisition: create ``<table>._wlock`` with overwrite=False — the
    create itself fails when another writer holds it, so the conflict
    is detected at the filesystem, not by a check-then-act gap.  An
    existing lease is honored while its mtime is younger than
    ``stale_sec`` (default :data:`LEASE_STALE_SEC`); older means the
    holder crashed (release is in a ``finally``, so only process death
    leaves one) and it is stolen.  A lease whose recorded ``owner``
    equals the caller's ``owner`` is reclaimed immediately regardless
    of age — the single-writer contract says one incarnation of a
    maintainer runs at a time, so a same-identity lease can only be
    our own crashed predecessor (callers with a stable identity, e.g.
    a streaming maintainer's checkpoint name, get instant crash
    restart; the default identity is pid-unique so the default
    behavior is pure TTL).

    Yields a :class:`_Lease` handle: ``heartbeat()`` bumps the lease
    mtime (long-running writers call it at phase boundaries so the
    staleness clock measures silence, not total runtime),
    ``payload`` is the fencing token — the lock file's exact content,
    unique per acquisition via a nonce — and ``verify()`` fences:
    every mutator re-checks the token at the staged-write → mutate
    boundary, so a holder that stalled past the threshold and was
    stolen from ABORTS (LeaseLostError) instead of racing the thief;
    release is likewise token-checked, so the loser's cleanup never
    deletes the thief's live lease.

    Acquisition atomicity (r17; evolved under the threaded race test,
    which caught each weaker design live): (1) the stale-steal is
    rename-to-a-unique-tombstone, so of N racing stealers exactly one
    rename succeeds (delete-then-create let two acquire: the second
    delete removed the first's fresh lock); (2) the final create is
    O_EXCL-atomic — ``java.io.File.createNewFile`` on ``file:`` URIs,
    where Hadoop's create(overwrite=False) is only check-then-act,
    the namenode's atomic create on HDFS; (3) on ``file:`` the whole
    probe→steal→create sequence additionally runs under a kernel
    flock on a sibling ``._wlock.arb`` (see
    _acquisition_critical_section), closing the last stat→rename gap
    in which a stealer could evict a FRESH lease it had statted as
    stale.  On remote schemes that gap stands as the documented
    residual; fencing bounds it — an evicted holder aborts at its
    next verify() instead of mutating."""
    fs, p = _fs_for(spark, path)
    lease = _sibling(spark, p, _LEASE_SUFFIX)
    stale = LEASE_STALE_SEC if stale_sec is None else stale_sec
    me = f"pid-{os.getpid()}" if owner is None else owner
    payload = json.dumps({"owner": me, "nonce": os.urandom(8).hex()})
    with _acquisition_critical_section(spark, fs, lease):
        _acquire_lease(spark, fs, p, lease, path, me, stale, owner, payload)

    try:
        yield _Lease(spark, fs, lease, payload)
    finally:
        # released on commit AND on a raised failure: either way no
        # writer remains, and a failure's leftover state (pre-marker
        # staging, or a marker'd swap) is exactly what the next
        # entry's recovery repairs — holding the lease past the
        # failure would only add TTL latency to that repair.  The
        # delete is TOKEN-CHECKED: if the lease was stolen while we
        # stalled, it is the thief's now and deleting it would let a
        # THIRD agent replay the swap concurrently with the thief.
        try:
            still_ours = fs.exists(lease) and _read_text(
                spark, fs, lease
            ) == payload
        except Exception:  # noqa: BLE001 — unreadable == not ours;
            # the TTL cleans up whatever is there
            still_ours = False
        if still_ours:
            fs.delete(lease, False)


@contextmanager
def _leased(
    spark: SparkSession, path: str, lease: _Lease | None, owner: str | None
):
    """Yield ``lease``, the handle a caller that already holds the
    table's writer lease passed in (so its fence travels too), or hold
    a fresh writer_lease(owner=) for the block."""
    if lease is not None:
        yield lease
        return
    with writer_lease(spark, path, owner=owner) as held:
        yield held


@contextmanager
def leased_append(spark: SparkSession, path: str, owner: str | None = None):
    """Writer lease + crashed-swap repair for APPEND writers (r17
    self-review find, the 'append eclipse' family): an append into a
    table whose live dir (or whole-table target) a crashed swap left
    renamed aside CREATES the target fresh with only the increment —
    and the next repair then sees 'live present', deletes the aside /
    ``._old`` holding the real rows, and the loss is permanent and
    silent.  The interaction only became possible when the
    maintenance lanes moved to aside-first swaps (r16/r17): the swap
    protocols are crash-safe among THEMSELVES; an unleased append is
    the one writer class that could still sneak between a crash and
    its repair.  So every append into a swap-protocol table runs
    here: hold the table's writer lease (no maintainer can be
    mid-swap), repair any crashed whole-table swap
    (recover_interrupted_swap) and any aside-renamed partition dirs
    (_repair_compaction_dirs) FIRST, then fence and yield for the
    append itself.  Fresh-target appends (a brand-new path) pass
    through unchanged — both repairs no-op."""
    from datawarehouse_code_spark.sources.bucketed import (
        _repair_compaction_dirs,
    )

    with writer_lease(spark, path, owner=owner) as lease:
        recover_interrupted_swap(spark, path)
        fs, p = _fs_for(spark, path)
        if fs.exists(p) and fs.getFileStatus(p).isDirectory():
            names = [st.getPath().getName() for st in fs.listStatus(p)]
            _repair_compaction_dirs(spark, fs, p, names)
        lease.verify()
        yield lease


def recover_interrupted_swap(spark: SparkSession, path: str) -> str | None:
    """Repair a `_staged_overwrite` that crashed mid-swap, restoring
    the invariant 'the target path holds one complete table'.

    Crash states and their repair (returns the action taken):
    - target live, stale `._old` beside it → crash AFTER the staged
      rename landed; the leftover old copy is redundant → delete it
      (``cleaned_stale_old``).
    - target absent, staged copy complete (its `_SUCCESS` marker
      exists) → crash between the two renames → finish the swap:
      rename staged in, drop `._old` (``rolled_forward``).
    - target absent, staged copy incomplete, `._old` present → the
      old table is the only complete copy → rename it back
      (``rolled_back``).
    - anything else (fresh path, or a partial `._staging` beside a
      live target from a crashed write) → nothing to do; the next
      staged write overwrites the partial staging (None).

    Callers MUST run this before probing table existence: after a
    mid-swap crash the target is briefly absent while both copies
    exist, and treating that as 'no table' would re-create the table
    from one batch and destroy the rest (the exact silent-loss window
    this closes).
    """
    fs, p = _fs_for(spark, path)
    staged = _sibling(spark, p, "._staging")
    old = _sibling(spark, p, "._old")
    if fs.exists(p):
        if fs.exists(old):
            fs.delete(old, True)
            return "cleaned_stale_old"
        return None
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    if fs.exists(jvm_path(staged, "_SUCCESS")):
        fs.rename(staged, p)
        if fs.exists(old):
            fs.delete(old, True)
        return "rolled_forward"
    if fs.exists(old):
        fs.rename(old, p)
        return "rolled_back"
    return None


def table_exists(spark: SparkSession, path: str) -> bool:
    """Does `path` hold a (complete) table?  Hadoop-FS-based so it is
    correct for `file:` URIs and remote filesystems, not just posix
    paths; runs swap recovery first so a mid-swap crash state reads as
    'exists' (via rollback/roll-forward), never as 'absent'."""
    recover_interrupted_swap(spark, path)
    fs, p = _fs_for(spark, path)
    return bool(fs.exists(p))


def _staged_overwrite(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    lease: _Lease | None = None,
    owner: str | None = None,
) -> None:
    """Write `df` beside `path`, then swap directories — never
    overwrites a dataset from its own live scan (the compact_parquet
    rule, pipeline.py).

    Crash ordering: the OLD table is renamed aside (atomic) before the
    staged result is renamed in (atomic), and only then deleted — data
    is never destroyed before its replacement is in place.  A crash
    between the two renames leaves the path momentarily absent but
    BOTH copies on disk (`._old` and `._staging`);
    `recover_interrupted_swap` (run here on entry, and by
    `table_exists`) completes or rolls back the swap.  A crash during
    the staged write leaves the old table untouched and live.

    ``partition_by`` stages a Hive-partitioned layout (the swap moves
    the whole directory, so partition dirs ride along unchanged —
    write_fact's year partitioning uses this).

    Runs under the table's writer lease (same ``<table>._wlock``
    protocol the bucketed lane enforces): two concurrent whole-table
    writers would race on the same ``._staging``/``._old`` names and
    can interleave the swap renames into a mixed or vanished table,
    so the second one is refused loudly (ConcurrentWriterError).
    ``lease=`` is the escape for a caller that already holds it
    (compact_parquet, forget_documents — passing the HANDLE, so the
    fence travels too); ``owner=`` is the lease identity for
    crash-restart reclaim (see writer_lease)."""
    with _leased(spark, path, lease, owner) as held:
        recover_interrupted_swap(spark, path)
        fs, p = _fs_for(spark, path)
        staged = _sibling(spark, p, "._staging")
        old = _sibling(spark, p, "._old")
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(staged.toString())
        # fence between the long un-heartbeated staged write and the
        # mutating swap: a holder stolen from mid-write must not race
        # the thief's swap over the same ._staging name
        held.verify()
        held.heartbeat()
        _finish_staged_swap(fs, p, staged, old)


def _finish_staged_swap(fs, p, staged, old) -> None:
    """The whole-table swap tail every staged writer shares (here and
    sources/bucketed.write_bucketed): old aside → staged in → aside
    deleted, in the exact ordering recover_interrupted_swap repairs.
    ONE implementation on purpose — a protocol change that landed in
    only one copy would silently break the other's crash recovery."""
    if fs.exists(old):
        fs.delete(old, True)
    had_old = fs.exists(p)
    if had_old:
        fs.rename(p, old)
    fs.rename(staged, p)
    if had_old:
        fs.delete(old, True)


def replace_keyed(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    key: list[str],
    keys: DataFrame | None = None,
    owner: str | None = None,
    lease: _Lease | None = None,
) -> None:
    """Keyed REPLACE: every target row whose `key` value appears in
    `keys` (default: the update rows' own key set) is dropped, then
    the update rows are inserted — one anti-join on `key` + union +
    staged overwrite.

    With ``keys=None`` this is the keyed upsert (updates win): a key
    present in the updates keeps only its update rows, every other
    target row is carried over, and new keys are inserted.  Null keys
    never match, so null-keyed target rows are carried and null-keyed
    update rows inserted.  For one-to-many grains like a document's
    chunk rows it is also the stale-row-closing replace — a
    re-delivered document that now produces FEWER rows leaves no
    residue, which a row-keyed matched-update / not-matched-insert
    cannot guarantee.

    `keys` exists because "fewer rows" includes ZERO: a caller that
    filters the update rows (min-word chunks, media too short to
    fingerprint) produces no update row at all for such an item, so
    keying the delete on the update rows would leave the item's OLD
    rows behind — exactly the stale residue this function closes.
    Such callers must pass the batch's full key set (e.g.
    `batch.select("doc_id")`); it is distinct-ed here.

    The target is read BEFORE the staged write; the swap renames the
    old table aside before renaming the new one in (see
    _staged_overwrite), so a crash never destroys data — at worst the
    path is briefly absent with both copies recoverable on disk.
    Concurrent readers can still see the swap mid-listing.

    The whole read-merge-write runs under the writer lease: a second
    concurrent replacer would base its merge on the same pre-image and
    silently drop the first one's rows (lost update), so it is refused
    loudly instead.  ``lease=`` is the held-handle escape for the auto
    helpers, which probe-and-route under the lease."""
    del_keys = (keys if keys is not None else updates).select(*key).distinct()
    with _leased(spark, target_path, lease, owner) as held:
        recover_interrupted_swap(spark, target_path)
        current = spark.read.parquet(target_path)
        merged = current.join(del_keys, key, "left_anti").unionByName(updates)
        _staged_overwrite(spark, merged, target_path, lease=held)


def scd2_apply(
    spark: SparkSession,
    target_path: str,
    snapshot: DataFrame,
    key: list[str],
    tracked: list[str],
    load_date: str,
) -> None:
    """Apply an SCD2 snapshot merge (operators/scd.py scd2_merge) to a
    stored dimension: compute the full merged dimension (one join —
    see scd2_merge) and staged-overwrite the target under its writer
    lease."""
    from datawarehouse_code_spark.operators.scd import scd2_merge

    with writer_lease(spark, target_path) as lease:
        recover_interrupted_swap(spark, target_path)
        dim = spark.read.parquet(target_path)
        merged = scd2_merge(dim, snapshot, key, tracked, load_date)
        _staged_overwrite(spark, merged, target_path, lease=lease)
