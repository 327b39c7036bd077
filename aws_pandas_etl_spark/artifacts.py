"""Per-user scratch root for materialized query artifacts.

Queries that land data on disk — the build-once kNN edge artifact, the
K1/K2 sink round-trips, format conversions — need a scratch location
that is (a) safe on a multi-user host and (b) bounded over time.  A
bare ``tempfile.gettempdir()`` path gives neither: the system temp dir
is world-writable, so a predictable artifact name can be pre-created
(poisoned) by another user and would then be trusted blindly; and
fingerprint-keyed artifacts accumulate forever as the source data or
build parameters change.

``artifact_path()`` fixes both:

* every artifact lives under ``$TMPDIR/awspe-<uid>`` created with mode
  0700; if the directory already exists it must be a real directory
  (not a symlink) owned by the current user, else we refuse loudly —
  a pre-created path by anyone else can never be trusted.
* the first call in each process sweeps entries older than
  ``STALE_AGE_SEC`` (24 h).  Artifacts are rebuildable by construction
  (keyed by source mtime/size + params), so the worst case of sweeping
  one that another long-lived process still holds open is a rebuild,
  not corruption.

At 100 TB the equivalent is a per-pipeline prefix on distributed
storage with bucket-policy isolation and TTL lifecycle rules; this
module is the local-disk rendition of the same contract.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import stat as stat_mod
import tempfile
import time
import uuid

#: Artifacts untouched for this long are rebuildable dead weight.
STALE_AGE_SEC = 24 * 3600

_swept = False


def artifact_root() -> str:
    """Return the per-user 0700 scratch root, creating it if needed.

    Refuses a pre-existing path that is not a plain directory owned by
    the current user (symlink swaps and cross-user pre-creation are
    the poisoning vectors on a shared temp dir).
    """
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"awspe-{uid}")
    try:
        os.mkdir(root, mode=0o700)
    except FileExistsError:
        st = os.lstat(root)
        if not stat_mod.S_ISDIR(st.st_mode):
            raise RuntimeError(
                f"artifact root {root!r} exists but is not a directory "
                "(possible symlink attack) — remove it manually"
            )
        if hasattr(os, "getuid") and st.st_uid != os.getuid():
            raise RuntimeError(
                f"artifact root {root!r} is owned by uid {st.st_uid}, "
                f"not the current user ({os.getuid()}) — refusing to "
                "trust a directory another user pre-created"
            )
        if stat_mod.S_IMODE(st.st_mode) != 0o700:
            os.chmod(root, 0o700)
    _sweep_stale_once(root)
    return root


def artifact_path(*parts: str) -> str:
    """Join ``parts`` under the per-user artifact root.

    A lookup that finds an existing artifact also refreshes the mtime
    of its top-level entry: the staleness sweep keys on root-entry
    mtime, and a reader that only ever opens files INSIDE a directory
    artifact (a parquet part, say) would otherwise leave the entry
    looking idle — a freshly started process could then sweep it out
    from under a live lazy DataFrame mid-plan.  Touch-on-lookup makes
    "actively consulted" and "not stale" the same thing.
    """
    root = artifact_root()
    p = os.path.join(root, *parts)
    if parts:
        top = os.path.join(root, parts[0])
        try:
            os.utime(top)
        except OSError:
            pass  # not built yet, or racing a sweep — both fine
    return p


def source_ident(src: str) -> str | None:
    """Identity string for a fingerprinted source path, or None if the
    path cannot be stat'ed (remote / non-local sources build fresh).

    For a plain file this is ``abspath|mtime_ns|size``.  For a
    DIRECTORY — the standard Spark table layout is a directory of part
    files — the top-level stat is not enough: rewriting a part file in
    place changes neither the directory's mtime nor its size, so a
    stale artifact would be silently served for a changed corpus.
    Directories therefore fold the sorted ``(relpath, mtime_ns, size)``
    of every contained file into a digest appended to the ident — the
    walk is recursive, so a rewrite two levels deep
    (``partition=X/part-*.parquet``) changes the ident even though the
    table directory's own mtime does not.
    """
    try:
        st = os.stat(src)
    except OSError:
        return None
    base = f"{os.path.abspath(src)}|{st.st_mtime_ns}|{st.st_size}"
    if not stat_mod.S_ISDIR(st.st_mode):
        return base
    entries = []
    for dirpath, dirnames, filenames in os.walk(src):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            try:
                fst = os.stat(p)
            except OSError:
                continue
            rel = os.path.relpath(p, src)
            entries.append(f"{rel}|{fst.st_mtime_ns}|{fst.st_size}")
    digest = hashlib.md5("\n".join(entries).encode()).hexdigest()[:16]
    return f"{base}|dir:{digest}"


def _sweep_stale_once(root: str) -> None:
    """Once per process, drop root entries idle past STALE_AGE_SEC."""
    global _swept
    if _swept:
        return
    _swept = True
    now = time.time()
    try:
        names = os.listdir(root)
    except OSError:
        return
    for name in names:
        p = os.path.join(root, name)
        try:
            st = os.lstat(p)
            if now - st.st_mtime > STALE_AGE_SEC:
                if stat_mod.S_ISDIR(st.st_mode):
                    shutil.rmtree(p, ignore_errors=True)
                else:  # file artifacts (e.g. cached centroid JSON)
                    os.unlink(p)
        except OSError:
            continue


def publish_parquet_artifact(df, path: str) -> None:
    """Atomically publish a DataFrame as a parquet artifact directory:
    write to a hidden tmp sibling, then one POSIX rename moves it live.
    A concurrent builder that loses the race discards its copy and
    reads the winner's, which is sound only for deterministic builds
    (the ``memo_path`` contract).  Object stores swap the rename for a
    transactional table commit, the merge_load precedent."""
    tmp = (
        f"{os.path.dirname(path)}/."
        f"{os.path.basename(path)}.__build_{uuid.uuid4().hex[:8]}"
    )
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(path):
            raise


def memo_path(kind: str, src: str, dials: str, ext: str = "") -> str | None:
    """Path of the build-once artifact ``kind`` derived from ``src``.

    The contract every memoized artifact (kNN edges, near-dup pairs,
    fitted centroids, ...) shares: the key is the source identity
    (``source_ident``) plus ``kind`` plus ``dials``, which must name
    every parameter the build depends on — a regenerated corpus or a
    changed dial lands under a new key, and the staleness sweep drops
    the old one.  Builds are deterministic, so racing builders publish
    identical artifacts and whichever publish loses discards its copy.
    Returns None when ``src`` cannot be stat'ed (remote / non-local
    sources): the caller builds fresh, uncached.
    """
    ident = source_ident(src)
    if ident is None:
        return None
    tag = hashlib.md5(f"{ident}|{kind}|{dials}".encode()).hexdigest()[:16]
    return artifact_path(f"{kind}_{tag}{ext}")


def parquet_memo(spark, kind: str, src: str, dials: str, build):
    """DataFrame artifact under the ``memo_path`` contract: publish
    ``build()`` once with ``publish_parquet_artifact``, then every call
    reads the parquet back."""
    path = memo_path(kind, src, dials)
    if path is None:
        return build()
    if not os.path.isdir(path):
        publish_parquet_artifact(build(), path)
    return spark.read.parquet(path)


def json_memo(kind: str, src: str, dials: str, build):
    """JSON-serializable artifact (a small fitted model) under the
    ``memo_path`` contract, published by tmp file + ``os.replace``.
    Always returns the DECODED value, so a cache hit and a fresh build
    hand the caller the same types (lists, never tuples)."""
    path = memo_path(kind, src, dials, ".json")
    if path is not None and os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    text = json.dumps(build())
    if path is not None:
        tmp = f"{path}.__build_{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)  # atomic on POSIX; losers overwrite identically
    return json.loads(text)
