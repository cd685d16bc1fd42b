"""The one lifecycle of every persisted store: open, rebuild, append.

The signature (``dedup``), ANN (``similarity``), BM25 and bigram LM
(``textops``), entity (``linkage``), graph and label (``community``)
stores all keep their state here as immutable versions plus an atomic
pointer, the commit model of Iceberg/Delta's manifest swap reduced to
POSIX primitives:

    <root>/
      CURRENT                    # text file: name of the live version
      v_000001_ab12cd34/         # immutable COMPLETE version
        _STORE_COMPLETE          # json marker, written LAST before publish
        bands/ postings/ ...     # the family's artifacts
      v_000002_99f0e1d2/

A family declares its shape once, as a :class:`StoreSpec`: its name,
its build key and its bucketed :class:`Layout` s (artifact, bucket and
sort columns, catalog table suffix). Its default recipe lives in the
signature of its ``write_*`` function and nowhere else. It then goes
through three entry points and nothing else:

- :func:`open_store` — one CURRENT read gives the live version dir and
  the recipe its marker records, checked against the caller's explicit
  values (:func:`resolve_params`: a mismatch raises, since a mis-paired
  probe silently under-recalls, and a key the marker lacks raises, since
  the store must then be rebuilt). ``FileNotFoundError`` when nothing is
  published.
- :func:`rebuild` — a fresh build dir, published on a clean exit. A
  compaction is a rebuild that takes its build key and recipe from the
  version it opened.
- :func:`append` — under :func:`append_lock`, clone the live version
  (hardlinks, no data bytes move) and resolve the recipe from the
  CLONED version's marker, so a rebuild that published before the lock
  can never pair its recipe with the batch. On a clean exit it
  publishes with the clone's recipe plus the family's own keys (e.g.
  ``delta_appends``), the inherited build key, ``expect_base`` and the
  streaming ``fold`` stamp.

:meth:`StoreSpec.register` points the family's catalog tables at a
version (:func:`register_bucketed`), so a probe scans the store's
buckets with no Exchange on the store side. Every bucketed artifact
carries its column DDL in a ``_SCHEMA`` file, so registration is pure
catalog DDL.

One marker format, ``_STORE_COMPLETE``::

    {"build_key": "sig-v1", "layout": 1,
     "params": {"k": 3, "num_perm": 64, "bands": 16, "n_buckets": 16},
     "folds": {"<query key>": <last folded batch id>}}

``params`` is absent for a store with no recipe (the SCD2 dimension,
the XML chunk set) and reads as the empty recipe; ``folds`` is absent
until a streaming query folds into the store.

Invariants:
  - a version directory is referenced by CURRENT only after every
    artifact AND the ``_STORE_COMPLETE`` marker are fully written;
  - CURRENT is replaced with ``os.replace`` (atomic on POSIX), so any
    reader resolves either the old or the new complete version — never
    a partial one and never 0 rows;
  - versions are immutable: an append publishes a NEW version, so
    in-flight readers of the old one are undisturbed;
  - the marker records the ``build_key``, so a process reuses an
    on-disk store only when it was built with the same recipe, and the
    recipe itself (``params``), so probes self-configure;
  - the marker also maps each streaming query that folds into the store
    to the last batch id it folded (``folds``, stamped by
    ``publish(fold=...)`` and read by :func:`folded_batch`), so a
    micro-batch's rows and its "folded" record go live in the same
    CURRENT flip; every publish carries the map forward.

Concurrency contract: any number of READERS run against any number of
writers; two concurrent REBUILDS both publish complete versions and the
last pointer flip wins. Concurrent APPENDS serialize on the
``O_CREAT|O_EXCL`` lock file of :func:`append_lock` (stale-lock
takeover), so two simultaneous appends of different batches BOTH land
(two-process-proven in tests/test_storectl.py). :func:`publish`'s
``expect_base`` backstops a bypassed lock: it refuses the pointer flip
with :class:`StoreConflictError` when CURRENT moved under the build.

Retention contract (GC of superseded versions, at publish time): a
version directory is deleted only when ALL of
  (1) it is beyond the newest :data:`KEEP` predecessors of the new
      version,
  (2) its marker is older than :data:`RETAIN_SECONDS` — the MVCC
      horizon protecting in-flight readers that resolved a version just
      before the flip, and
  (3) it carries no pin — :func:`pin_version` drops a ``_PINNED_*``
      marker file that GC honors unconditionally, so a time-travel
      snapshot held across many publishes survives until
      :func:`unpin_version`.
Orphaned ``.build_*`` staging dirs (crashed writers) can never become
visible, so publish also sweeps any whose newest file is older than
:data:`RETAIN_SECONDS`.

On a cluster the same layout works on any filesystem with atomic rename
(HDFS); on S3 the CURRENT pointer would move to a conditional-PUT object
or a real table format — the reader/writer protocol here is unchanged.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import re
import shutil
import time
import uuid

MARKER = "_STORE_COMPLETE"
SCHEMA_FILE = "_SCHEMA"
_VERSION_RE = re.compile(r"^v_(\d{6})_[0-9a-f]{8}$")
_TABLE_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]{0,127}$")


class StoreConflictError(RuntimeError):
    """CURRENT moved between an append's clone and its publish — the
    single-writer append contract was violated (a second writer appended
    concurrently without :func:`append_lock`). The batch is NOT published;
    retry by re-cloning from the new CURRENT, under the lock."""

#: session-local record of which catalog table name points at which data
#: directory, so re-registration DDL runs once per (table, location) —
#: the catalog itself is process-local, this just avoids repeat DDL.
_REGISTERED: dict[str, str] = {}


def _versions(root: str) -> list[str]:
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return []
    return sorted(n for n in names if _VERSION_RE.match(n))


#: A lock older than this is presumed held by a crashed writer and taken
#: over. Appends are metadata-clone + one bucketed write — minutes at the
#: outside — so 15 min of silence means the holder died mid-append.
LOCK_STALE_SECONDS = 900.0


@contextlib.contextmanager
def append_lock(
    root: str,
    stale_s: float = LOCK_STALE_SECONDS,
    timeout_s: float = 600.0,
    poll_s: float = 0.2,
):
    """Serialize store APPENDS across processes: an ``O_CREAT|O_EXCL``
    lock file under ``root`` — creation is atomic on POSIX, so exactly
    one contender holds it; the rest poll. A lock whose mtime is older
    than ``stale_s`` belongs to a crashed writer: it is unlinked and the
    create retried (the unlink+O_EXCL pair means exactly one taker wins).

    :func:`append` holds it around clone → append → publish, so two
    concurrent appends run back-to-back and BOTH batches land."""
    os.makedirs(root, exist_ok=True)
    lock = os.path.join(root, "_APPEND_LOCK")
    deadline = time.time() + timeout_s
    while True:
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except OSError:
                continue  # holder released between create and stat — retry
            if age > stale_s:
                with contextlib.suppress(OSError):
                    os.unlink(lock)
                continue
            if time.time() > deadline:
                raise TimeoutError(
                    f"append lock at {lock!r} held for {timeout_s}s "
                    "(holder alive? raise timeout_s or investigate)"
                )
            time.sleep(poll_s)
            continue
        try:
            os.write(
                fd,
                json.dumps(
                    {"pid": os.getpid(), "acquired_unix": time.time()}
                ).encode(),
            )
        finally:
            os.close(fd)
        break
    try:
        yield
    finally:
        with contextlib.suppress(OSError):
            os.unlink(lock)


def pin_version(version_dir: str, token: str = "pin") -> str:
    """Drop a ``_PINNED_<token>`` marker in ``version_dir`` so publish's
    GC never deletes it — the safety a time-travel reader needs to hold a
    ``list_versions`` snapshot across an unbounded number of publishes
    (:data:`KEEP`/:data:`RETAIN_SECONDS` alone only bound GC in time,
    not against a long analysis session). Returns the marker path.
    Idempotent; pins are never cloned into descendant versions."""
    if not os.path.exists(os.path.join(version_dir, MARKER)):
        raise FileNotFoundError(
            f"{version_dir!r} is not a complete store version"
        )
    p = os.path.join(version_dir, f"_PINNED_{token}")
    with open(p, "w", encoding="utf-8") as fh:
        json.dump({"pid": os.getpid(), "pinned_unix": time.time()}, fh)
    return p


def unpin_version(version_dir: str, token: str = "pin") -> None:
    """Remove a :func:`pin_version` marker; the version becomes GC-
    eligible again under the normal keep and retention rules."""
    with contextlib.suppress(FileNotFoundError):
        os.unlink(os.path.join(version_dir, f"_PINNED_{token}"))


def _is_pinned(version_dir: str) -> bool:
    try:
        names = os.listdir(version_dir)
    except OSError:
        return False
    return any(n.startswith("_PINNED") for n in names)


def new_build_dir(root: str) -> str:
    """A fresh private build directory under ``root``. Writers stage
    every artifact here; nothing under it is visible to readers until
    :func:`publish`."""
    os.makedirs(root, exist_ok=True)
    d = os.path.join(root, f".build_{os.getpid()}_{uuid.uuid4().hex[:8]}")
    os.makedirs(d)
    return d


def clone_current(root: str) -> tuple[str, str]:
    """Hardlink-copy the current version into a new build dir (metadata-
    only: no data bytes move) and return ``(build_dir, current_dir)``.
    The append path: clone, add files, publish — the old version's files
    are shared by inode, never duplicated, and stay live for in-flight
    readers until GC."""
    cur = current_dir(root)
    if cur is None:
        raise FileNotFoundError(f"no published store version under {root!r}")
    build = new_build_dir(root)
    for dirpath, _dirnames, filenames in os.walk(cur):
        rel = os.path.relpath(dirpath, cur)
        dst = os.path.join(build, rel) if rel != "." else build
        os.makedirs(dst, exist_ok=True)
        for fn in filenames:
            if (
                fn == MARKER
                or fn.endswith(".crc")
                or fn == "_SUCCESS"
                or fn.startswith("_PINNED")  # pins belong to ONE version
            ):
                continue
            os.link(os.path.join(dirpath, fn), os.path.join(dst, fn))
    return build, cur


#: GC horizon: a superseded version is deleted only once it has been off
#: the CURRENT pointer long enough that no in-flight query can still be
#: scanning it (the MVCC retention window — Iceberg's snapshot expiry in
#: miniature). A reader that resolved a version just before a flip keeps
#: valid files for at least this long; deleting sooner makes its catalog
#: table silently read an empty location (observed as a 0-row probe when
#: a rebuild loop outpaced count-based GC). It and :data:`KEEP` compose
#: as AND (a version survives while EITHER protects it), and a
#: ``_PINNED_*`` marker (:func:`pin_version`) overrides both — the full
#: contract is in the module docstring's "Retention contract".
RETAIN_SECONDS = 600.0

#: superseded versions GC always keeps: the live version's predecessor
KEEP = 1


def _newest_mtime(d: str) -> float:
    """Newest mtime of any file under ``d`` (the dir itself when empty) —
    'is this build still being written to' for the orphan sweep."""
    try:
        newest = os.path.getmtime(d)
    except OSError:
        return 0.0
    for dirpath, _dirnames, filenames in os.walk(d):
        for fn in filenames:
            try:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, fn)))
            except OSError:
                pass
    return newest


def publish(
    root: str,
    build_dir: str,
    build_key: str,
    expect_base: str | None = None,
    params: dict | None = None,
    fold: tuple[str, int] | None = None,
) -> str:
    """Atomically publish ``build_dir`` as the next version of the store
    at ``root`` and return the final version directory.

    Order matters: (1) the completeness marker lands inside the build
    dir; (2) the dir is renamed to its version name (atomic — the name
    appears only fully populated); (3) CURRENT is atomically replaced.
    A crash after any step leaves either the old pointer (garbage build
    dir, harmless) or the new pointer to a complete version.

    ``expect_base``: for appends — the version name (basename) the build
    was cloned from. If CURRENT no longer names it, another writer
    published since the clone and flipping would silently drop their
    batch: the build is discarded and :class:`StoreConflictError` raised
    instead (loud failure; under :func:`append_lock` this cannot fire).

    GC (superseded versions): deleted only when beyond the newest
    :data:`KEEP` predecessors AND older than :data:`RETAIN_SECONDS` AND
    not pinned — see the module docstring's "Retention contract".
    Orphaned ``.build_*`` dirs idle longer than :data:`RETAIN_SECONDS`
    are also swept (they can never become visible, so age-based removal
    is safe).

    ``params``: the store's build recipe (hash bits/tables, minhash
    bands, bucket count, ...) — persisted in the version marker so
    probes SELF-CONFIGURE from the store instead of trusting the caller
    to re-supply matching values (a mis-paired probe silently
    under-recalls; see :func:`resolve_params`). An empty or None recipe
    is not recorded. :func:`append` and a compacting :func:`rebuild`
    carry the base version's params forward.

    ``fold``: ``(query_key, batch_id)``, set by a streaming sink whose
    micro-batch this version folds in. The marker's ``folds`` map is the
    live version's map with this entry added, so appends, compactions and
    rebuilds all keep every query's record (:func:`folded_batch`)."""
    cur, cur_meta = _current(root)
    if expect_base is not None:
        if cur is None or os.path.basename(cur) != expect_base:
            shutil.rmtree(build_dir, ignore_errors=True)
            raise StoreConflictError(
                f"append base {expect_base!r} is no longer CURRENT at "
                f"{root!r} (now {cur and os.path.basename(cur)!r}) — a "
                "concurrent writer published; re-clone under append_lock"
            )
    marker: dict = {"build_key": build_key, "layout": 1}
    if params:
        marker["params"] = params
    folds = dict((cur_meta or {}).get("folds", {}))
    if fold is not None:
        query_key, batch_id = fold
        folds[query_key] = batch_id
    if folds:
        marker["folds"] = folds
    with open(os.path.join(build_dir, MARKER), "w", encoding="utf-8") as fh:
        json.dump(marker, fh)
    existing = _versions(root)
    n = int(existing[-1][2:8]) + 1 if existing else 1
    final = os.path.join(root, f"v_{n:06d}_{uuid.uuid4().hex[:8]}")
    os.rename(build_dir, final)
    tmp = os.path.join(root, f".CURRENT_{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(os.path.basename(final))
    os.replace(tmp, os.path.join(root, "CURRENT"))
    horizon = time.time() - RETAIN_SECONDS
    for name in _versions(root)[: -(KEEP + 1)]:
        d = os.path.join(root, name)
        if _is_pinned(d):
            continue
        try:
            marker_mtime = os.path.getmtime(os.path.join(d, MARKER))
        except OSError:
            marker_mtime = 0.0
        if marker_mtime < horizon:
            shutil.rmtree(d, ignore_errors=True)
    # crashed writers leak .build_* staging dirs (nothing else deletes
    # them); invisible by construction, so quiet past the horizon == dead
    try:
        stale_builds = [
            nm for nm in os.listdir(root) if nm.startswith(".build_")
        ]
    except OSError:
        stale_builds = []
    for nm in stale_builds:
        d = os.path.join(root, nm)
        if os.path.isdir(d) and _newest_mtime(d) < horizon:
            shutil.rmtree(d, ignore_errors=True)
    return final


def _current(root: str) -> tuple[str | None, dict | None]:
    """The live complete version directory and its marker json, or
    ``(None, None)`` when there is no CURRENT pointer or the pointed-at
    dir or its marker is missing (crash window / GC race)."""
    try:
        with open(os.path.join(root, "CURRENT"), encoding="utf-8") as fh:
            d = os.path.join(root, fh.read().strip())
    except OSError:
        return None, None
    meta = meta_of(d)
    return (None, None) if meta is None else (d, meta)


def current_dir(root: str, build_key: str | None = None) -> str | None:
    """Resolve the live complete version directory, or None.

    None when: no CURRENT pointer, the pointed-at dir or its marker is
    missing (crash window / GC race — treat as absent and rebuild), or
    ``build_key`` is given and does not match the marker (the on-disk
    store was built with a different recipe)."""
    d, meta = _current(root)
    if d is None or build_key is not None and meta.get("build_key") != build_key:
        return None
    return d


def list_versions(root: str) -> list[str]:
    """COMPLETE (marker-bearing) version directories, oldest → newest —
    the time-travel surface: any returned dir can be registered and
    queried as an immutable point-in-time snapshot until the GC
    retention window passes it; a reader holding one across publishes
    should :func:`pin_version` it (GC honors pins unconditionally).
    The last element is the dir CURRENT points at (or will, modulo a
    concurrent in-flight publish)."""
    out = []
    for name in _versions(root):
        d = os.path.join(root, name)
        if os.path.exists(os.path.join(d, MARKER)):
            out.append(d)
    return out


def folded_batch(root: str, query_key: str) -> int:
    """Id of the last batch of streaming query ``query_key`` that the live
    version holds (``publish(fold=(query_key, batch_id))``), or -1."""
    meta = _current(root)[1] or {}
    return meta.get("folds", {}).get(query_key, -1)


def meta_of(version_dir: str) -> dict | None:
    """The marker json of ONE version dir, or None — for callers that
    already resolved a version and must not re-read CURRENT (a
    concurrent republish between the two reads would pair one version's
    data with another's metadata)."""
    try:
        with open(os.path.join(version_dir, MARKER), encoding="utf-8") as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def resolve_params(stored: dict, requested: dict, root: str) -> dict:
    """Check a probe/append call's parameters against the recipe the
    store at ``root`` records, and return that recipe. Every key of
    ``requested`` must be recorded: a store without it predates its
    family's recipe and is refused with ``ValueError`` (rebuild it).
    A requested value of ``None`` inherits the recorded one (the
    self-configuring path); any other value must equal it, else
    ``ValueError`` — a mis-paired probe (wrong bits/bands/seed) does not
    error on its own, it silently under-recalls because the freshly
    hashed signatures land in the wrong buckets."""
    for key, req in requested.items():
        if key not in stored:
            raise ValueError(
                f"the store at {root!r} records no {key!r} in its recipe "
                f"{stored!r}; rebuild the store"
            )
        if req is not None and stored[key] != req:
            raise ValueError(
                f"store param mismatch: {key}={req!r} requested but the "
                f"store was built with {key}={stored[key]!r} — a "
                "mis-paired probe would silently under-recall; omit the "
                "argument to inherit the store's recipe"
            )
    return stored


def write_bucketed(
    df,
    data_dir: str,
    bucket_cols: list[str],
    sort_cols: list[str],
    n_buckets: int,
) -> None:
    """Write ``df`` as a bucketed+sorted parquet directory WITHOUT
    leaving a catalog entry: ``bucketBy`` requires ``saveAsTable``, so a
    throwaway unique table name carries the write, then drops (external
    table — the files stay). The files embed their bucket id in the
    name, which is all a later :func:`register_bucketed` needs."""
    tmp_name = f"store_build_{uuid.uuid4().hex[:12]}"
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .option("path", data_dir)
        .saveAsTable(tmp_name)
    )
    df.sparkSession.sql(f"DROP TABLE IF EXISTS {tmp_name}")
    # Cache the column DDL beside the data (AFTER the save — overwrite
    # clears the dir): later register_bucketed calls become pure catalog
    # DDL instead of a parquet-footer schema-inference job per
    # registration (a per-probe Spark job in cross-process readers).
    # Appends hardlink-clone this file along with the data files and
    # never change the schema, so it stays valid across versions.
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    with open(
        os.path.join(data_dir, SCHEMA_FILE), "w", encoding="utf-8"
    ) as fh:
        json.dump({"cols_sql": cols}, fh)


def append_bucketed(
    df,
    data_dir: str,
    bucket_cols: list[str],
    sort_cols: list[str],
    n_buckets: int,
) -> None:
    """Append bucketed files to an EXISTING bucketed directory (a build
    clone). The table must pre-exist for append to preserve the dir's
    files — ``mode("append").saveAsTable`` on a nonexistent name runs
    create-table-as-select and CLEARS the target path (verified), so we
    register a throwaway external table over the dir first."""
    spark = df.sparkSession
    tmp_name = f"store_append_{uuid.uuid4().hex[:12]}"
    _create_bucketed_ddl(
        spark, tmp_name, data_dir, bucket_cols, sort_cols, n_buckets
    )
    (
        df.write.mode("append")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*sort_cols)
        .format("parquet")
        .saveAsTable(tmp_name)
    )
    spark.sql(f"DROP TABLE IF EXISTS {tmp_name}")


def _create_bucketed_ddl(
    spark,
    table: str,
    data_dir: str,
    bucket_cols: list[str],
    sort_cols: list[str],
    n_buckets: int,
) -> None:
    if not _TABLE_RE.match(table):
        raise ValueError(f"invalid store table identifier: {table!r}")
    try:
        with open(
            os.path.join(data_dir, SCHEMA_FILE), encoding="utf-8"
        ) as fh:
            cols = json.load(fh)["cols_sql"]
    except FileNotFoundError:
        raise FileNotFoundError(
            f"bucketed artifact {data_dir!r} has no {SCHEMA_FILE} file; "
            "rebuild the store"
        ) from None
    bc = ", ".join(f"`{c}`" for c in bucket_cols)
    sc = ", ".join(f"`{c}`" for c in sort_cols)
    # LOCATION is a SQL string literal: double embedded single quotes so
    # a store root containing one (reachable via SPARK_GRAFT_STORE_DIR)
    # can't break or inject into the DDL
    loc = data_dir.replace("'", "''")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({cols}) USING PARQUET "
        f"CLUSTERED BY ({bc}) SORTED BY ({sc}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{loc}'"
    )


def fsck(root: str) -> dict:
    """Read-only integrity report for a store root — the operational
    check a deployment runs after a crash (or before trusting a store a
    different writer produced). Returns::

        {"current": <basename|None>, "current_ok": bool,
         "build_key": <live version's recipe|None>,
         "versions": [complete version basenames, oldest->newest],
         "incomplete": [marker-less v_* dirs],       # crash debris
         "pinned": {version basename: [pin tokens]},
         "orphan_builds": [.build_* dirs],           # age-swept by publish
         "lock_held": bool,                          # in-flight append
         "issues": [human-readable problems]}        # empty == healthy

    Issues flagged: missing/dangling CURRENT (readers see an absent
    store and will rebuild), marker-less version dirs (harmless but
    worth sweeping), non-monotonic or duplicate version ordinals
    (manual tampering — publish numbering assumes sorted order). fsck
    never mutates the store; repairs are publish's GC (age-based) or a
    rebuild through the normal writer."""
    issues: list[str] = []
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return {
            "current": None, "current_ok": False, "build_key": None,
            "versions": [], "incomplete": [], "pinned": {},
            "orphan_builds": [], "lock_held": False,
            "issues": [f"store root {root!r} does not exist"],
        }
    all_vdirs = sorted(n for n in names if _VERSION_RE.match(n))
    complete, incomplete = [], []
    pinned: dict[str, list[str]] = {}
    for n in all_vdirs:
        d = os.path.join(root, n)
        if os.path.exists(os.path.join(d, MARKER)):
            complete.append(n)
        else:
            incomplete.append(n)
            issues.append(f"version {n} has no completeness marker")
        toks = [
            fn[len("_PINNED_"):]
            for fn in os.listdir(d)
            if fn.startswith("_PINNED_")
        ]
        if toks:
            pinned[n] = sorted(toks)
    ordinals = [int(n[2:8]) for n in all_vdirs]
    if len(set(ordinals)) != len(ordinals):
        issues.append(f"duplicate version ordinals: {sorted(ordinals)}")
    cur_dir, meta = _current(root)
    cur = os.path.basename(cur_dir) if cur_dir else None
    if "CURRENT" not in names:
        issues.append("no CURRENT pointer (store reads as absent)")
    elif cur is None:
        issues.append(
            "CURRENT is dangling (points at a missing or incomplete "
            "version — store reads as absent; rebuild or re-publish)"
        )
    return {
        "current": cur,
        "current_ok": cur is not None,
        "build_key": meta.get("build_key") if meta else None,
        "versions": complete,
        "incomplete": incomplete,
        "pinned": pinned,
        "orphan_builds": sorted(n for n in names if n.startswith(".build_")),
        "lock_held": "_APPEND_LOCK" in names,
        "issues": issues,
    }


def register_bucketed(
    spark,
    table: str,
    data_dir: str,
    bucket_cols: list[str],
    sort_cols: list[str],
    n_buckets: int,
) -> None:
    """Point catalog name ``table`` at ``data_dir`` as an external
    bucketed table. The bucket metadata lives in the (process-local)
    session catalog; the scan it produces is ``Bucketed: true`` with no
    Exchange on the store side — identical to the plan a fresh
    ``saveAsTable`` leaves behind (plan-asserted in tests). Idempotent
    per (table, location); re-pointing after a new version publishes is
    one DROP+CREATE of metadata, no data movement."""
    if _REGISTERED.get(table) == data_dir and spark.catalog.tableExists(table):
        return
    _create_bucketed_ddl(spark, table, data_dir, bucket_cols, sort_cols, n_buckets)
    _REGISTERED[table] = data_dir


# ---------------------------------------------------------------------------
# The store lifecycle: open, rebuild, append
# ---------------------------------------------------------------------------


@dataclasses.dataclass(frozen=True)
class Layout:
    """One bucketed artifact of a store family: its directory inside a
    version, the columns it is bucketed and sorted on (every family
    sorts on its bucket columns, so a probe's equi-join on them needs
    neither an Exchange nor a Sort on the store side), and the suffix
    its catalog table adds to the family's table name (``None``: never
    registered)."""

    artifact: str
    cols: tuple[str, ...]
    suffix: str | None = ""


@dataclasses.dataclass(frozen=True)
class StoreSpec:
    """What a store family declares once: its name in errors, the build
    key a fresh :func:`rebuild` records when the caller gives none, and
    its bucketed layouts. The recipe of a family with layouts has
    ``n_buckets``."""

    kind: str
    build_key: str
    layouts: tuple[Layout, ...] = ()

    def layout(self, artifact: str) -> Layout | None:
        return next((x for x in self.layouts if x.artifact == artifact), None)

    def register(self, spark, table: str, version: "Version") -> None:
        """Point ``table`` (plus each layout's suffix) at ``version``'s
        bucketed artifacts (:func:`register_bucketed`)."""
        for x in self.layouts:
            if x.suffix is not None:
                register_bucketed(
                    spark,
                    table + x.suffix,
                    version.path(x.artifact),
                    list(x.cols),
                    list(x.cols),
                    version.params["n_buckets"],
                )


@dataclasses.dataclass(frozen=True)
class Version:
    """A complete store version: its directory and its marker."""

    dir: str
    meta: dict

    @property
    def params(self) -> dict:
        """The recipe the marker records (empty when it records none)."""
        return self.meta.get("params", {})

    def path(self, artifact: str) -> str:
        return f"{self.dir}/{artifact}"


def open_store(
    root: str,
    spec: StoreSpec,
    requested: dict | None = None,
    version_dir: str | None = None,
    build_key: str | None = None,
) -> Version:
    """The live version of the store at ``root``, from one CURRENT read,
    its recorded recipe checked against ``requested``
    (:func:`resolve_params`). Raises ``FileNotFoundError`` when no
    version is published or ``build_key`` is given and the live
    version's differs. ``version_dir`` opens that version instead of
    CURRENT (time travel over :func:`list_versions`)."""
    if version_dir is None:
        d, meta = _current(root)
    else:
        d, meta = version_dir, meta_of(version_dir) or {}
    if d is None or build_key is not None and meta.get("build_key") != build_key:
        raise FileNotFoundError(f"no published {spec.kind} under {root!r}")
    version = Version(d, meta)
    resolve_params(version.params, requested or {}, root)
    return version


class Build:
    """A private build directory that a :func:`rebuild` or :func:`append`
    publishes on exit. ``params`` is the recipe to build under, recorded
    in the published marker; ``base`` the version it derives from (None
    for a fresh rebuild); ``extra`` the family's own marker keys (e.g.
    ``delta_appends``), recorded on top of ``params``; ``version`` the
    published :class:`Version`, once the block has exited."""

    def __init__(
        self,
        spec: StoreSpec,
        build_dir: str,
        params: dict | None,
        base: Version | None,
        appending: bool,
    ):
        self.spec, self.dir = spec, build_dir
        self.params, self.base = params, base
        self.extra: dict = {}
        self.version: Version | None = None
        self._appending = appending

    def path(self, artifact: str) -> str:
        return f"{self.dir}/{artifact}"

    def add(self, artifact: str, df) -> None:
        """Write ``df`` into ``artifact``: appended to the cloned files in
        an append, the whole artifact in a rebuild. Bucketed and sorted
        as the family's layout declares, plain parquet otherwise."""
        self._write(artifact, df, self._appending)

    def replace(self, artifact: str, df) -> None:
        """Write ``df`` as the whole of ``artifact``, in place of any
        cloned copy (derived state, not an append log). ``df`` must not
        read the files it replaces."""
        shutil.rmtree(self.path(artifact), ignore_errors=True)
        self._write(artifact, df, False)

    def _write(self, artifact: str, df, appending: bool) -> None:
        layout = self.spec.layout(artifact)
        if layout is None:
            mode = "append" if appending else "overwrite"
            df.write.mode(mode).parquet(self.path(artifact))
            return
        write = append_bucketed if appending else write_bucketed
        write(
            df,
            self.path(artifact),
            list(layout.cols),
            list(layout.cols),
            self.params["n_buckets"],
        )

    def _publish(
        self,
        root: str,
        build_key: str,
        expect_base: str | None = None,
        fold: tuple[str, int] | None = None,
    ) -> None:
        final = publish(
            root, self.dir, build_key, expect_base=expect_base,
            params={**(self.params or {}), **self.extra}, fold=fold,
        )
        self.version = Version(final, meta_of(final) or {})


@contextlib.contextmanager
def rebuild(
    root: str,
    spec: StoreSpec,
    params: dict | None = None,
    build_key: str | None = None,
    base: Version | None = None,
):
    """Build a new version from scratch in a fresh build dir and publish
    it when the block exits cleanly. A fresh build records ``params``. A
    compaction passes ``base``, the version it read: the new version
    records the base's recipe and its build key unless ``build_key`` is
    given."""
    if base is None:
        build = Build(spec, new_build_dir(root), params, None, False)
        key = build_key or spec.build_key
    else:
        build = Build(spec, new_build_dir(root), base.params, base, False)
        key = build_key or base.meta["build_key"]
    yield build
    build._publish(root, key)


@contextlib.contextmanager
def append(
    root: str,
    spec: StoreSpec,
    requested: dict | None = None,
    build_key: str | None = None,
    fold: tuple[str, int] | None = None,
):
    """Fold a batch into the live version: under :func:`append_lock`,
    clone it (:func:`clone_current`) and check ``requested`` against the
    CLONED version's recipe (:func:`resolve_params`), so a rebuild that
    published before the lock cannot pair its recipe with the batch.
    The :class:`Build` yielded holds that recipe and the clone
    (``base``); on a clean exit it publishes with ``expect_base`` set to
    the clone, the base's recipe plus ``extra``, its build key (unless
    ``build_key`` is given) and ``fold``."""
    with append_lock(root):
        build_dir, cur = clone_current(root)
        base = Version(cur, meta_of(cur) or {})
        resolve_params(base.params, requested or {}, root)
        build = Build(spec, build_dir, base.params, base, True)
        yield build
        build._publish(
            root,
            build_key or base.meta["build_key"],
            expect_base=os.path.basename(cur),
            fold=fold,
        )
