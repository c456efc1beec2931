"""Fixture-table loaders.

All driver tables are one parquet file per table under an sf dir
(TESTDATA.md). Parquet scans give Catalyst predicate pushdown, column
pruning, and (on a partitioned layout) partition pruning for free — the
callers just declare filters/projections and the scan narrows itself
(verify with ``df.explain``: ``PushedFilters`` / ``ReadSchema``).

Lifetime of cached frames and temp dirs: every frame the package caches
goes through ``persist`` and every per-call temp dir through ``tempdir``;
both register with the open ``scope``, also from ``run_jobs`` threads.
Only the outermost open scope owns anything: on exit it unpersists the
frames and removes the dirs registered inside it.  Functions that return
None (index builds, appends, deletes) wrap their body in a scope, so they
clean up however they are called.  Functions that return a lazy frame
never open one, because the frame may still read what they made; their
caller wraps the call and the consumption of its result in one scope.
With no scope open nothing is tracked.  Process-lifetime state (the
``cache_base`` generations) stays on plain ``tempfile``.

Caches derived from the fixture (the persisted index stores, the bucketed
join layout, the staged copies of tables in other formats) are immutable
generations made by one helper, ``staged``: it alone decides which source
files, which build parameters and which store format (``GEN_FORMAT``) a
generation was built from, and so when it can be served again.
"""

from __future__ import annotations

import contextlib
import contextvars
import fcntl
import os
import shutil
import tempfile
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


def write_atomic(path: str, text: str) -> None:
    """Publish a small control file (SERIAL, CURRENT) via tmp + fsync +
    ``os.replace`` + directory fsync — never an in-place truncate+write,
    which a crash can leave partial (ADVICE r10: a truncated SERIAL
    re-allocates a low version number and silently overwrites committed
    history).  The fsyncs close the POWER-loss variant: without them a
    filesystem may persist the rename but not the contents, leaving an
    empty CURRENT after the machine comes back."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    _fsync_dir(os.path.dirname(path))


def _fsync_dir(dirpath: str) -> None:
    """Flush a rename to the directory entry (best-effort — some
    filesystems refuse O_RDONLY dir fsync; the data-file fsync above is
    the load-bearing half)."""
    try:
        fd = os.open(dirpath or ".", os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


def run_jobs(*thunks, limit: int | None = None) -> list:
    """Run independent Spark ACTIONS concurrently from driver threads and
    return their results in argument order.  At most ``limit`` thunks run
    at once, on at most ``limit`` threads (default: all of them).

    Spark's scheduler happily runs several jobs at once inside one
    application; actions are only sequential because driver code calls
    them sequentially (guide §2.6).  An index publish that writes three
    relation parquet files back-to-back leaves most of local[32] idle in
    each job's scheduling/commit tail — submitting the writes from a
    small thread pool lets the next job's tasks back-fill those cores.
    FIFO scheduling keeps the first job prioritized, which is exactly
    the back-fill behaviour wanted.

    Exceptions propagate (the first one in argument order, after the
    thunks in flight finish) so a failed write inside a manifest_append
    body still aborts the commit.  Once one thunk has failed, the thunks
    still waiting for a thread never start.  Shared cached frames are
    safe: concurrent first materialization of a persisted partition is
    serialized by the block manager (one task computes, the rest wait)."""
    if len(thunks) <= 1:
        return [t() for t in thunks]
    import threading
    from concurrent.futures import ThreadPoolExecutor

    failed = threading.Event()

    def guard(thunk):
        def run():
            if failed.is_set():
                return None  # another thunk failed before this one started
            try:
                return thunk()
            except BaseException:
                failed.set()
                raise

        return run

    with ThreadPoolExecutor(max_workers=min(limit or len(thunks), len(thunks))) as pool:
        # Each thunk runs in a copy of the caller's context, so what it
        # persists or makes lands in the caller's scope.
        futures = [pool.submit(contextvars.copy_context().run, guard(t)) for t in thunks]
    errors = [f.exception() for f in futures if f.exception() is not None]
    if errors:
        raise errors[0]
    return [f.result() for f in futures]


# The open scope's release list (see the module docstring).
_SCOPE: "contextvars.ContextVar[list | None]" = contextvars.ContextVar(
    "graft_scope", default=None
)


@contextlib.contextmanager
def scope():
    """Release every frame ``persist`` cached and every dir ``tempdir``
    made inside the block when it exits, normally or by an exception.  A
    scope opened inside another one is a no-op: the outermost scope owns
    everything."""
    if _SCOPE.get() is not None:
        yield
        return
    owned: list = []
    token = _SCOPE.set(owned)
    try:
        yield
    finally:
        _SCOPE.reset(token)
        for release in owned:
            release()


def _own(release) -> None:
    owned = _SCOPE.get()
    if owned is not None:
        owned.append(release)


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` at the default storage level, released by the open
    scope (if any)."""
    df = df.persist()
    _own(df.unpersist)
    return df


def checkpoint(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, whose checkpoint RDD the open scope
    unpersists (if any).  The frame reads those blocks, so they can go
    only when the scope exits, not when the checkpointing call returns."""
    df = df.localCheckpoint(eager=eager)
    if _SCOPE.get() is not None:
        rdd = df._jdf.queryExecution().logical().rdd()
        _own(lambda: rdd.unpersist(False))
    return df


def tempdir(prefix: str) -> str:
    """A fresh temp dir, removed by the open scope (if any)."""
    d = tempfile.mkdtemp(prefix=prefix)
    _own(lambda: shutil.rmtree(d, ignore_errors=True))
    return d


def read_marker(marker: str) -> "str | None":
    """Read a cache-validity marker, None when absent/unreadable — the
    mandatory companion to ``build_lock``'s double-checked re-check."""
    try:
        with open(marker) as fh:
            return fh.read().strip()
    except OSError:
        return None


@contextlib.contextmanager
def build_lock(path: str):
    """Exclusive cross-process lock for rebuilding a shared /tmp cache dir
    (bucketed-coloc layout, persisted ANN/dedup index).

    The rebuild pattern is rmtree + rewrite; without a lock, two sessions
    on the same sf_dir can delete the directory out from under each
    other's in-flight build.  The lockfile lives BESIDE the cache dir
    (``<path>.lock``), never inside it, so the rmtree cannot remove the
    lock itself.  Callers must RE-CHECK their cache marker after
    acquiring the lock (double-checked locking): the process that was
    queued behind the winner sees a fresh marker and skips its rebuild.

    The lockfile is opened via ``os.open(O_CREAT | O_RDWR)`` rather than
    ``open(..., "w")`` so re-acquisition never O_TRUNCs a file another
    process holds flock'd.  The 0o666 create mode is masked by umask
    (typically landing at 0644), so it is NOT what prevents cross-user
    EACCES — the real guard is that cache paths are per-OS-user
    (``cache_base``), making another user's lockfile unreachable by
    construction (ADVICE r7/r8).
    """
    lockfile = f"{path}.lock"
    fd = os.open(lockfile, os.O_CREAT | os.O_RDWR, 0o666)
    with os.fdopen(fd, "r+") as fh:
        fcntl.flock(fh, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(fh, fcntl.LOCK_UN)


def cache_base(kind: str, key: str) -> str:
    """Per-user /tmp cache root for ``kind`` keyed by ``key`` (usually the
    sf_dir).  Including the OS user in the path makes cross-user /tmp
    collisions (EACCES on another user's 0755 dir or 0644 lockfile)
    structurally impossible — ADVICE r7."""
    import getpass
    import hashlib

    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    try:
        user = getpass.getuser()
    except OSError:  # no passwd entry (some containers)
        user = f"uid{os.getuid()}"
    return os.path.join(tempfile.gettempdir(), f"graft_{kind}_{user}_{tag}")


GEN_MARKER = "_GRAFT_GEN_OK"
_GEN_GC_TTL_S = 6 * 3600


def _gc_generations(base: str, keep: str) -> None:
    """Lazily delete generation dirs other than ``keep`` that are older
    than the TTL.  Called only under ``build_lock(base)``.  The TTL is
    the read-grace window: a generation is deleted only long after any
    scan that started against it has finished, so GC never races a
    reader the way rebuild-in-place did."""
    import time

    now = time.time()
    try:
        entries = os.listdir(base)
    except OSError:
        return
    for name in entries:
        if not name.startswith("gen-") or name == keep:
            continue
        p = os.path.join(base, name)
        try:
            if now - os.stat(p).st_mtime > _GEN_GC_TTL_S:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def ensure_generation(kind: str, key: str, fp: str, build, *, force: bool = False) -> str:
    """Immutable-generation shared cache (ADVICE r7): every (re)build goes
    into a FRESH ``gen-*`` subdirectory and the ``CURRENT`` pointer file
    swings to it atomically, so no session ever rmtree's or overwrites a
    layout another session is mid-scan on — the residual read race of the
    old rebuild-in-place protocol.  Old generations are GC'd lazily by
    age (``_gc_generations``), long after their readers are gone.

    ``fp`` fingerprints what the cache was built from (``staged`` builds
    it); a regenerated fixture yields a new fingerprint, hence a new
    generation.  ``force=True`` builds a fresh generation even when a
    valid one exists (the "a build is a fresh build" gate ops) — the
    SERIAL file makes each forced build's directory name unique.

    ``build(gen_dir)`` must write the cache contents into ``gen_dir``;
    the generation becomes visible only after its marker + CURRENT land.
    Returns the absolute path of the valid generation directory.
    """
    import hashlib

    base = cache_base(kind, key)
    os.makedirs(base, exist_ok=True)
    cur_file = os.path.join(base, "CURRENT")

    def _valid() -> "str | None":
        cur = read_marker(cur_file)
        if not cur or "/" in cur or cur.startswith("."):
            return None
        gen = os.path.join(base, cur)
        ok = read_marker(os.path.join(gen, GEN_MARKER)) == fp
        return gen if ok else None

    got = None if force else _valid()
    if got:
        return got
    with build_lock(base):
        got = None if force else _valid()
        if got:
            return got
        serial = int(read_marker(os.path.join(base, "SERIAL")) or "0")
        # Allocate the next serial whose gen dir is free.  A crash can
        # leave SERIAL truncated (pre-r11 it was an in-place write); a
        # re-allocated serial must never rmtree a COMPLETED generation a
        # reader may be scanning — only markerless debris of a failed
        # build is reclaimable (ADVICE r10).
        while True:
            serial += 1
            name = "gen-" + hashlib.md5(f"{fp}:{serial}".encode()).hexdigest()[:16]
            gen = os.path.join(base, name)
            if not os.path.exists(gen):
                break
            if read_marker(os.path.join(gen, GEN_MARKER)) != fp:
                shutil.rmtree(gen, ignore_errors=True)  # failed-build debris
                break
            # Live COMPLETED generation for this same fingerprint under a
            # recycled serial (a crash rolled SERIAL back): it is already
            # the build we were about to redo, so re-point CURRENT to it
            # instead of rebuilding from scratch (ADVICE r11).  force=True
            # never takes this path — a forced rebuild must produce fresh
            # bytes.  SERIAL advances past the collision so the next
            # allocation doesn't re-walk it.
            if not force:
                write_atomic(os.path.join(base, "SERIAL"), str(serial))
                write_atomic(cur_file, name)
                _gc_generations(base, keep=name)
                return gen
        write_atomic(os.path.join(base, "SERIAL"), str(serial))
        # No exist_ok: if the debris rmtree above partially failed (NFS
        # silly-rename, read-only nested dir), building INTO the remnant
        # would serve a mix of stale and fresh files — fail loudly.
        os.makedirs(gen)
        build(gen)
        with open(os.path.join(gen, GEN_MARKER), "w") as fh:
            fh.write(fp)
        write_atomic(cur_file, name)  # atomic pointer swap
        _gc_generations(base, keep=name)
    return gen


# Part of every fingerprint ``staged`` writes: bump it when the layout of a
# cached generation changes, and every cache is rebuilt once instead of a
# generation written by older code being served.
GEN_FORMAT = "format-2"


def staged(
    kind: str,
    sf_dir: str,
    tables: "tuple[str, ...]",
    name: "str | None",
    build,
    *,
    params: tuple = (),
    force: bool = False,
) -> str:
    """The cache of ``kind`` built from fixture ``tables``: an
    ``ensure_generation`` generation keyed on the tables' parquet files,
    the caller's build ``params`` and ``GEN_FORMAT``, so a regenerated
    fixture, another split or cap, or another layout gets a fresh
    generation instead of the stale one.

    ``build(path)`` makes the cache at ``path`` and the path is returned.
    With a ``name`` it is that entry inside the generation: a copy of the
    tables staged in another layout (a SQLite db, a CSV or text dir, a
    stream source dir), whose readers list its directory and so never see
    the generation marker.  With ``name=None`` it is the generation dir
    itself (an index store, the bucketed join layout).  ``force=True``
    builds a fresh generation even when a valid one exists."""
    files = (os.path.join(sf_dir, f"{t}.parquet") for t in tables)
    fp = "|".join((file_fingerprint(*files), *map(str, params), GEN_FORMAT))
    at = (lambda g: g) if name is None else (lambda g: os.path.join(g, name))
    return at(ensure_generation(kind, sf_dir, fp, lambda g: build(at(g)), force=force))


# ---------------------------------------------------------------------------
# Manifest-committed snapshot protocol (VERDICT r9 item 4).
#
# The transactional core of sink_time_travel (operators/etl.py), extracted
# into a library so every persisted multi-relation store (the MinHash dedup
# index, the IVF-PQ ANN index, the ER catalog index) shares ONE protocol:
#
#   - data files are append-only; no committed file is ever rewritten;
#   - every snapshot is a MANIFEST: one JSON file listing, per relation
#     (bands/tokens/sets/tombstones, codes/centroids/..., ...), the data
#     files in that snapshot, published by one atomic rename;
#   - readers resolve CURRENT -> manifest -> file list and scan exactly
#     those files — NEVER a directory listing — so a concurrent append
#     can't tear a read, and a crashed append (files written, manifest
#     missing) is INVISIBLE rather than half-read or double-counted;
#   - a writer that must be idempotent (foreachBatch retries under the
#     same epoch_id) records its epoch in the commit's ``meta``, and the
#     applied-epoch check reads ONLY the visible lineage (the cumulative
#     ``applied`` chain in CURRENT — manifest_applied_meta): the
#     data-visibility bit and the applied-epoch record are one atomic
#     publish.  Publish itself is two renames (version file, then
#     CURRENT); a crash between them leaves an ORPHAN version whose data
#     is invisible AND whose epoch is un-applied — the retry re-appends
#     fresh files and commits a later version, so neither the pre-r10
#     double-append nor the ADVICE-r10 silent-drop window exists.  Every
#     manifest carries that chain; one without it is not a store this
#     protocol wrote (``GEN_FORMAT`` keeps older cached stores out of
#     reach), and reading it raises ``KeyError`` rather than reporting an
#     empty chain.
#
# File paths inside a manifest are RELATIVE to the store root, so a
# file-level clone of the whole store (clone_store — how the lifecycle
# ops snapshot a shared cached index) remains a valid store at its new
# location, manifests included.  (Absolute paths are also honored — they
# resolve verbatim — which is how a shallow clone references another
# table's files without copying them.)
#
# Writer contract: ONE writer per store at a time (foreachBatch runs
# micro-batches sequentially; batch jobs own their clone).  build_lock
# serializes version ALLOCATION so racing committers can't collide on a
# version id, but manifest_append's DEFAULT before/after file diff is
# not transactional across writers — two concurrent appends to the same
# store could each commit the other's in-flight files.  READERS are
# always safe (they resolve an immutable committed snapshot); a
# multi-writer deployment passes ``manifest_append(..., exclusive=True)``
# on every writer, which serializes commits the way Delta does — the
# append lock held across the whole step (see the docstring).
#
# IndexStore (below) declares each persisted index — the MinHash band
# index, the IVF-PQ codes, the ER catalog — once: its relations' schemas,
# partition columns and tombstone key.  All three keep the reference
# sink's contract (append rows, tombstone deletes, compact as the merge),
# so the declaration owns the reads, tombstones, snapshot commits and the
# compaction write; the index modules keep only their algorithms.
# ---------------------------------------------------------------------------

MANIFEST_DIRNAME = "_manifests"


def _manifest_dir(root: str) -> str:
    return os.path.join(root, MANIFEST_DIRNAME)


def relation_data_files(root: str, relation: str) -> "list[str]":
    """Root-relative paths of the parquet data files currently ON DISK
    under ``relation`` (recursive — partitioned relations nest files under
    ``key=value`` dirs).  This is the WRITER-side discovery primitive (the
    before/after diff around a Spark append); readers never call it."""
    import glob as _glob

    rdir = os.path.join(root, relation)
    out = []
    for pat in ("*.parquet", os.path.join("**", "*.parquet")):
        out.extend(_glob.glob(os.path.join(rdir, pat), recursive=True))
    return sorted(os.path.relpath(p, root) for p in set(out))


def manifest_current(root: str) -> "str | None":
    """Name of the CURRENT manifest version, or None when the store has
    no committed snapshot (not a manifest store / nothing published)."""
    cur = read_marker(os.path.join(_manifest_dir(root), "CURRENT"))
    if not cur or "/" in cur or cur.startswith("."):
        return None
    return cur


def manifest_read(root: str, version: "str | None" = None) -> "dict | None":
    """Load one manifest: ``{"relations": {name: [relpaths]}, "meta": {}}``.
    ``version=None`` resolves CURRENT; None when the store has no CURRENT
    (uninitialized — the legitimate empty case).

    A CURRENT that RESOLVES but whose manifest can't be read or parsed
    RAISES instead of returning None: the commit protocol publishes the
    version file strictly before swinging CURRENT, so this state is
    corruption or a transient I/O failure — and treating it as "empty
    store" would silently reset the store (the next commit's merge base
    would be ``{}``, dropping every committed file and forgetting every
    applied epoch) and make readers serve an empty index.  Fail the
    operation; a foreachBatch retry re-runs it.  Explicit ``version``
    reads keep returning None on absence — expired manifests are a
    legitimate miss for time travel."""
    import json

    explicit = version is not None
    if version is None:
        version = manifest_current(root)
        if version is None:
            return None
    try:
        with open(os.path.join(_manifest_dir(root), f"{version}.json")) as fh:
            return json.load(fh)
    except (OSError, ValueError) as ex:
        if not explicit:
            raise RuntimeError(
                f"manifest store corrupt or unreadable: CURRENT names "
                f"{version!r} but its manifest cannot be loaded at "
                f"{_manifest_dir(root)} ({ex!r}); refusing to treat a "
                f"committed store as empty"
            ) from ex
        return None


def manifest_versions(root: str) -> "list[str]":
    """All committed version names, oldest first — index time travel.

    Ordering is NUMERIC on the serial (ADVICE r11): the zero pad covers
    six digits, and past v999999 a lexicographic sort inverts
    (``"v1000000" < "v999999"``), mis-ordering time travel and
    max-version recovery.  ~2 years of 1-minute micro-batches reaches the
    pad — cheap to be exact.
    """
    mdir = _manifest_dir(root)
    try:
        names = os.listdir(mdir)
    except OSError:
        return []
    return sorted(
        (n[:-5] for n in names if n.endswith(".json")),
        key=lambda n: (_version_serial(n), n),
    )


def _version_serial(name: str) -> int:
    """Numeric serial of a ``vNNNNNN`` version name (−1 if malformed —
    malformed names sort first and never win a max-version recovery)."""
    try:
        return int(name[1:])
    except (ValueError, IndexError):
        return -1


# Applied-chain retention (the Delta setTransaction-retention analog):
# each commit rewrites the full chain, so an indefinite stream would grow
# it one epoch per micro-batch forever.  Keep the N LARGEST values per
# key — idempotence only protects against a RETRY, and a retried writer's
# epoch is always at the recent end; a value old enough to fall off the
# window can no longer arrive as a retry.  10k one-minute micro-batches
# ≈ a week of lost-retry horizon, at ~100 KB of manifest.
MANIFEST_APPLIED_RETAIN = 10_000


def _applied_order_key(v):
    """Recency ordering for applied idempotence values: numbers AND
    digit-clean strings order by numeric value (ADVICE r11: a str-sorted
    window would keep '999' and evict '1000' — exactly the recent epoch
    retry-idempotence exists to protect), non-numeric strings order
    after them lexicographically (their recency is unknowable; at least
    the eviction is deterministic)."""
    import math

    if isinstance(v, bool):
        return (0, int(v), "")
    if isinstance(v, float) and math.isnan(v):
        return (1, 0, "nan")  # NaN never compares: sort key must not be it
    if isinstance(v, (int, float)):
        return (0, v, "")
    s = str(v)
    try:
        return (0, int(s), s)
    except ValueError:
        pass
    try:
        f = float(s)
        # 'nan'/'inf' strings parse but NaN poisons sort comparability —
        # route non-finite parses to the deterministic lexicographic tier.
        if math.isnan(f):
            return (1, 0, s)
        return (0, f, s)
    except (ValueError, OverflowError):
        return (1, 0, s)


def _retain_applied(vals: set) -> list:
    """The retained slice of one applied-value set, in the committed
    (deterministic, str-sorted) form.  The RETENTION window is computed
    under numeric-first ordering (``_applied_order_key``) so heterogeneous
    or string-typed epochs still evict oldest-first; the committed list
    stays str-sorted for byte-stable manifests."""
    if len(vals) > MANIFEST_APPLIED_RETAIN:
        ordered = sorted(vals, key=_applied_order_key)
        vals = set(ordered[-MANIFEST_APPLIED_RETAIN:])
    return sorted(vals, key=str)


def manifest_applied_chain(root: str) -> "dict[str, list]":
    """The VISIBLE applied chain of a store, as committed JSON shape
    ({key: sorted values}) — what a compaction passes as
    ``applied_seed`` so the fresh store remembers which epochs the
    source already applied (a stream swapped onto the compacted store
    must not double-append on retry)."""
    m = manifest_read(root)  # strict: corrupt CURRENT raises
    if m is None:
        return {}
    return {k: list(v) for k, v in m["applied"].items()}


def manifest_commit(
    root: str,
    relations: "dict[str, list[str]]",
    meta: "dict | None" = None,
    applied_seed: "dict[str, list] | None" = None,
) -> str:
    """Publish one snapshot atomically; returns the new version name.

    Write the manifest JSON to a dot-tmp, ``os.rename`` it into place,
    then swing CURRENT via ``os.replace`` — a reader sees the old
    snapshot or the new one, never a torn state.  Version allocation is
    serialized under ``build_lock`` (single-writer stores pay an
    uncontended flock; concurrent committers get distinct versions) and
    crash-hardened (ADVICE r10): SERIAL publishes via tmp+replace, a
    truncated/missing SERIAL recovers as max(existing versions)+1, and
    an allocation that would overwrite a committed manifest fails loudly
    instead of corrupting time-travel history.

    Each manifest also carries ``applied``: the CUMULATIVE key →
    applied-value chain of the visible commit lineage plus this commit's
    own scalar meta values.  ``manifest_applied_meta`` reads that chain
    from CURRENT alone — one JSON read regardless of stream lifetime,
    and values riding an orphaned (published-but-never-CURRENT) version
    never count as applied, so a foreachBatch retry after a crash
    between the two renames re-appends instead of silently dropping the
    micro-batch."""
    import json

    mdir = _manifest_dir(root)
    os.makedirs(mdir, exist_ok=True)
    with build_lock(mdir):
        serial = int(read_marker(os.path.join(mdir, "SERIAL")) or "0")
        existing = manifest_versions(root)
        for v in existing:
            if v[1:].isdigit():
                serial = max(serial, int(v[1:]))
        serial += 1
        write_atomic(os.path.join(mdir, "SERIAL"), str(serial))
        version = f"v{serial:06d}"
        target = os.path.join(mdir, f"{version}.json")
        if os.path.exists(target):  # unreachable after recovery; guard anyway
            raise FileExistsError(f"manifest version already committed: {target}")
        prev = manifest_read(root)  # strict: corrupt CURRENT raises, never seeds {}
        chain: "dict[str, set]" = (
            {} if prev is None else {k: set(v) for k, v in prev["applied"].items()}
        )
        for k, vals in (applied_seed or {}).items():
            # Cross-store inheritance (compaction: the fresh store must
            # remember the source's applied epochs or a stream swapped
            # onto it double-appends on retry).
            chain.setdefault(k, set()).update(vals)
        for k, val in (meta or {}).items():
            if val is not None and isinstance(val, (str, int, float, bool)):
                chain.setdefault(k, set()).add(val)
        doc = {
            "version": version,
            "relations": {k: sorted(v) for k, v in relations.items()},
            "meta": meta or {},
            "applied": {k: _retain_applied(v) for k, v in chain.items()},
        }
        tmp = os.path.join(mdir, f".{version}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())  # power-loss: never a truncated manifest
        os.rename(tmp, target)
        _fsync_dir(mdir)
        write_atomic(os.path.join(mdir, "CURRENT"), version)
    return version


def manifest_relation_files(
    root: str, relation: str, version: "str | None" = None
) -> "list[str] | None":
    """ABSOLUTE paths of ``relation``'s files in a snapshot; ``[]`` when
    the snapshot has no files for it; None when the store has no manifest
    at all (readers treat that as an empty/uninitialized store)."""
    m = manifest_read(root, version)
    if m is None:
        return None
    return [os.path.join(root, p) for p in m.get("relations", {}).get(relation, [])]


def manifest_expire(root: str, keep: "list[str]") -> "list[str]":
    """The GC front half (Delta VACUUM / Iceberg expireSnapshots step 1):
    delete every committed manifest NOT in ``keep``; returns the expired
    version names.  Refuses to expire CURRENT (the pointer must always
    resolve).  Data files are untouched — physical deletion is the
    caller's sweep over ``manifest_live_files`` (step 2)."""
    cur = manifest_current(root)
    expired = []
    for v in manifest_versions(root):
        if v in keep or v == cur:
            continue
        try:
            os.remove(os.path.join(_manifest_dir(root), f"{v}.json"))
            expired.append(v)
        except OSError:
            pass
    return expired


def manifest_live_files(root: str) -> set:
    """Root-relative paths referenced by ANY live manifest — the
    reference set a vacuum sweep must never delete."""
    live: set = set()
    for v in manifest_versions(root):
        m = manifest_read(root, v) or {}
        for files in m.get("relations", {}).values():
            live.update(files)
    return live


def manifest_applied_meta(root: str, key: str) -> set:
    """Applied values of ``meta[key]`` in the VISIBLE commit lineage —
    the idempotence check for retried writers (foreachBatch epoch ids).

    Reads the cumulative ``applied`` chain from the CURRENT manifest:
    ONE JSON read per check regardless of how many epochs the stream has
    committed (pre-r11 this re-parsed every version file per micro-batch
    — O(epochs) on a path documented as running indefinitely), and
    expired manifests no longer forget their applied epochs (the chain
    survives in CURRENT).  Crucially it NEVER counts a version newer
    than CURRENT: a crash between publishing ``vNNNNNN.json`` and
    swinging CURRENT leaves that commit's data invisible, and treating
    its meta as applied would make the retry skip its re-append — the
    micro-batch silently lost (ADVICE r10 medium).  No CURRENT → nothing
    applied; a CURRENT manifest without the chain raises ``KeyError``."""
    m = manifest_read(root)  # strict: corrupt CURRENT raises
    if m is None:
        return set()
    return set(m["applied"].get(key, []))


@contextlib.contextmanager
def manifest_append(
    root: str,
    relations: "list[str]",
    meta: "dict | None" = None,
    replace: "list[str]" = (),
    exclusive: bool = False,
):
    """Append-files-then-publish, as one protocol step: snapshot the
    on-disk file sets of ``relations``, let the caller run its Spark
    appends, then commit CURRENT ∪ the newly-appeared files atomically.

    Relations named in ``replace`` commit as ONLY the files the body
    wrote — the previous snapshot's files drop out of the manifest (the
    in-commit rewrite shape: er_index_append un-tombstoning re-arrived
    names rewrites the tombstone relation in the same atomic snapshot as
    its appends).  Dropped files stay on disk for older versions' time
    travel; compaction reclaims them.

    A crash inside the body (or in commit itself) leaves the new files
    ORPHANED but invisible — readers keep resolving the previous
    manifest, and a retry's diff is taken against the files present at
    ITS start, so the orphans of a failed attempt are never committed
    (no double-append).  Compaction deletes unreferenced files.

    ``exclusive=True`` holds an append lock across the WHOLE step —
    Delta-style commit serialization for MULTI-writer stores, where the
    default diff protocol is unsafe (writer A's before/after diff would
    capture writer B's in-flight files and commit them half-written).
    All writers to a multi-writer store must opt in; appends then
    serialize, at the cost of holding a lock across the Spark job.  The
    lock is an flock, so a crashed holder releases it with its process.
    Default OFF: every registered store here is single-writer by
    contract (foreachBatch runs micro-batches sequentially; batch jobs
    own their clone), and serializing those would buy nothing."""

    def _step():
        track = list(dict.fromkeys(list(relations) + list(replace)))
        pre = {rel: set(relation_data_files(root, rel)) for rel in track}
        yield
        base = manifest_read(root) or {"relations": {}}
        merged = dict(base.get("relations", {}))
        fresh = {
            rel: sorted(set(relation_data_files(root, rel)) - pre[rel])
            for rel in track
        }
        for rel in relations:
            merged[rel] = sorted(set(merged.get(rel, [])) | set(fresh[rel]))
        for rel in replace:
            merged[rel] = fresh[rel]
        manifest_commit(root, merged, meta=meta)

    if exclusive:
        mdir = _manifest_dir(root)
        os.makedirs(mdir, exist_ok=True)
        # A DISTINCT lockfile from manifest_commit's version-allocation
        # lock (flock is not reentrant across fds within one process —
        # reusing it would self-deadlock at the commit inside).
        with build_lock(os.path.join(mdir, "append")):
            yield from _step()
    else:
        yield from _step()


def read_relation(
    spark: SparkSession,
    root: str,
    relation: str,
    schema: "str | None" = None,
    *,
    partitioned: bool = False,
    version: "str | None" = None,
) -> "DataFrame | None":
    """Manifest-resolved scan of one relation: exactly the committed
    files, never a directory listing.  ``partitioned=True`` sets
    ``basePath`` so ``key=value`` partition columns survive an explicit
    file-list read.  Returns None when the snapshot lists no files (a
    relation that has never been written, e.g. tombstones before the
    first delete) — callers keep their no-tombstone fast path."""
    files = manifest_relation_files(root, relation, version)
    if not files:
        return None
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if partitioned:
        reader = reader.option("basePath", os.path.join(root, relation))
    return reader.parquet(*files)


@dataclass(frozen=True)
class IndexStore:
    """``schemas``: relation → DDL schema; the relation list of every
    commit.  ``partitions``: relation → its on-disk partition column.
    ``tombstone``: the tombstone key, one ``"name type"`` DDL column."""

    schemas: "dict[str, str]"
    tombstone: str
    partitions: "dict[str, str]" = field(default_factory=dict)

    def read(self, spark: SparkSession, root: str, rel: str) -> DataFrame:
        """Manifest-resolved scan of one relation.  A relation with no
        committed files (an empty partitioned write emits none) reads as
        an empty frame of the declared schema."""
        ddl = self.schemas[rel]
        df = read_relation(spark, root, rel, ddl, partitioned=rel in self.partitions)
        return df if df is not None else spark.createDataFrame([], ddl)

    def tombstones(self, spark: SparkSession, root: str) -> "DataFrame | None":
        """The tombstone relation, or None when no delete was ever
        committed — the None keeps the no-delete plans unchanged.  An
        uncommitted delete is invisible, like an uncommitted append."""
        return read_relation(spark, root, "tombstones", self.tombstone)

    def delete(
        self,
        ids: DataFrame,
        root: str,
        *,
        appends: "dict[str, DataFrame] | None" = None,
        meta: "dict | None" = None,
    ) -> None:
        """Tombstone the ids in ``ids``'s one column (cast to the key) in
        one atomic commit; nothing committed is rewritten.  ``appends``:
        rows of other relations that must land in the same snapshot (the
        ER relabel of a delete's survivors)."""
        from pyspark.sql import functions as F

        key, dtype = self.tombstone.split()
        frames = {
            **(appends or {}),
            "tombstones": ids.select(F.col(ids.columns[0]).cast(dtype).alias(key)),
        }

        def job(rel: str, df: DataFrame):
            return lambda: df.write.mode("append").parquet(os.path.join(root, rel))

        with manifest_append(root, list(frames), meta=meta):
            run_jobs(*[job(rel, df) for rel, df in frames.items()])

    def commit(
        self, root: str, *, meta: "dict | None" = None, applied_from: "str | None" = None
    ) -> str:
        """Publish every relation's files under ``root`` as one snapshot
        (a build's or a compaction's first commit).  ``applied_from``: a
        source store whose applied-epoch chain the new snapshot inherits,
        so a stream swapped onto a compacted store still skips the epochs
        it already ingested."""
        return manifest_commit(
            root,
            {rel: relation_data_files(root, rel) for rel in self.schemas},
            meta=meta,
            applied_seed=manifest_applied_chain(applied_from) if applied_from else None,
        )

    def rewrite(
        self,
        dst: str,
        frames: "dict[str, DataFrame]",
        *,
        meta: "dict | None" = None,
        applied_from: str,
    ) -> str:
        """The compaction write: each frame lands under ``dst`` by one
        layout rule — a partitioned relation is clustered by its column
        (one shuffle, one file per partition value per writer), any other
        is coalesced to 8 writers — with a row-group-sized file cap.  The
        writes run concurrently, then one commit inherits the source's
        applied chain.  Tombstones are applied by the caller, so the new
        snapshot lists no tombstone relation."""

        def job(rel: str, df: DataFrame):
            col = self.partitions.get(rel)
            w = df.repartition(col).write.partitionBy(col) if col else df.coalesce(8).write
            w = w.option("maxRecordsPerFile", 5_000_000)
            return lambda: w.parquet(os.path.join(dst, rel))

        run_jobs(*[job(rel, df) for rel, df in frames.items()])
        return self.commit(dst, meta=meta, applied_from=applied_from)


def clone_store(src: str, prefix: str) -> str:
    """Private writable copy of a store under a fresh temp dir: a file
    clone, valid because manifests hold root-relative paths.  Appends and
    deletes mutate a store, so a shared cached generation is cloned
    before either."""
    dst = os.path.join(tempdir(prefix), "idx")
    shutil.copytree(src, dst)
    return dst


def file_fingerprint(*paths: str) -> str:
    """``size:mtime_ns`` of each file (``missing`` when absent; a directory
    lists every file under it with its relative path), joined by ``|`` —
    the key of whatever was derived from those files (a cached generation,
    an inferred schema), so a rewritten file is read afresh."""

    def one(p: str) -> str:
        if os.path.isdir(p):
            return ",".join(
                f"{os.path.relpath(f, p)}={one(f)}"
                for f in sorted(os.path.join(d, n) for d, _, ns in os.walk(p) for n in ns)
            )
        try:
            st = os.stat(p)
        except OSError:
            return "missing"
        return f"{st.st_size}:{st.st_mtime_ns}"

    return "|".join(one(p) for p in paths)


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Event-time columns per table. If the driver regenerates a fixture with a
# different physical timestamp type, these are the columns that must be
# re-normalized (everything else — int vs bigint key width, float vs double
# — drifts identically on the Spark and DuckDB sides and needs no help).
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Normalize one event-time column to a session-tz TIMESTAMP regardless
    of the fixture's physical parquet type. The driver regenerates fixtures
    between rounds and has already flipped events.ts between
    TIMESTAMP(NANOS) (read as long under ``nanosAsLong``) and timestamp[us]
    (read as TIMESTAMP_NTZ), so dispatch on the *read* dtype:

    - LongType (nanos-as-long): integer ``div 1000`` then
      ``timestamp_micros`` — ns epoch values overflow double precision, so
      no float math.
    - TIMESTAMP: already what we want.
    - TIMESTAMP_NTZ / anything else: plain cast. Under the pinned UTC
      session timezone this preserves the wall-clock value DuckDB sees,
      keeping oracle hash parity.

    Exception: a column that reads as TIMESTAMP_NTZ today (o_orderdate,
    l_shipdate) is left NTZ — every oracle was validated against that, and
    NTZ vs UTC-timestamp hash identically only for columns the driver
    serializes as naive. Normalization kicks in only on a long read, the
    one shape Spark can't use directly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    dt = df.schema[col].dataType
    if isinstance(dt, LongType):
        return df.withColumn(
            col, F.timestamp_micros(F.expr(f"{col} div 1000"))
        )
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """events.ts: long → micros conversion as in ``_normalize_ts``, plus a
    TIMESTAMP_NTZ → TIMESTAMP cast (the batch ops and streaming watermarks
    were built and driver-validated against TimestampType)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampType

    df = _normalize_ts(df, "ts")
    if not isinstance(df.schema["ts"].dataType, TimestampType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Parquet schema inference runs one Spark job per read (a footer scan, ~70 ms
# on a 4-core host), and a query mix reads the same tables again and again.
# The schemas it finds are kept per local path, keyed by the size and mtime
# of every file under it and by the confs that change inference, so a
# rewritten table's schema is read afresh.
_SCHEMAS: dict = {}
_SCHEMAS_MAX = 256
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local path's schema once
    per version of its files; other paths go straight to Spark."""
    if not os.path.exists(path):
        return spark.read.parquet(path)
    key = (
        path,
        tuple(spark.conf.get(k, None) for k in _INFER_CONFS),
        file_fingerprint(path),
    )
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if len(_SCHEMAS) >= _SCHEMAS_MAX:
        _SCHEMAS.clear()
    _SCHEMAS[key] = df.schema
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (reference R3's engine analog)."""
    if name not in TABLES:
        raise KeyError(f"unknown fixture table: {name}")
    # Timestamps must mean the same instant the DuckDB oracle sees (naive);
    # pin the session timezone in case the caller's session didn't.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Tolerate TIMESTAMP(NANOS) fixtures (Spark refuses them by default with
    # PARQUET_TYPE_ILLEGAL); harmless when the fixture is already micros.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_events_ts(df)
    else:
        for col in _TS_COLUMNS.get(name, ()):
            df = _normalize_ts(df, col)
    return df
