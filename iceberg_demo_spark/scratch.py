"""Per-user scratch root for deterministic cached artifacts.

Several operators persist derived layouts (bucketed copies, IVF inverted
lists, staged streaming sources) under fixed, predictable names so bench
reps measure the QUERY rather than setup. Fixed names directly under the
world-writable system temp dir are a squat risk on a multi-user host: a
stale or attacker-pre-created directory with a ``_SUCCESS`` marker would
be silently trusted. All such paths therefore live under a per-user
subdirectory created 0o700, whose ownership is verified on every reuse.
"""

from __future__ import annotations

import os
import stat
import tempfile


def scratch_dir() -> str:
    """The calling user's private scratch root (created on first use).

    Raises ``RuntimeError`` rather than reusing a directory someone else
    owns or that permits group/other access — never silently trust
    pre-existing state in a shared temp dir.
    """
    uid = os.getuid() if hasattr(os, "getuid") else 0
    root = os.path.join(tempfile.gettempdir(), f"glacier-{uid}")
    try:
        os.mkdir(root, mode=0o700)
    except FileExistsError:
        st = os.lstat(root)
        if not stat.S_ISDIR(st.st_mode):
            raise RuntimeError(f"scratch path {root} is not a directory")
        if hasattr(os, "getuid") and st.st_uid != uid:
            raise RuntimeError(
                f"scratch dir {root} is owned by uid {st.st_uid}, not "
                f"{uid} — refusing to reuse")
        if st.st_mode & 0o077:
            os.chmod(root, 0o700)
    return root


def scratch_path(name: str) -> str:
    """A named artifact path under the verified per-user scratch root."""
    return os.path.join(scratch_dir(), name)


_MANIFEST = "_SOURCE_MANIFEST.json"


def _source_fingerprint(sf_dir: str, tables: tuple[str, ...]) -> dict:
    """(mtime_ns, size) of each source parquet a cached index derives
    from — the cheap staleness fingerprint (testdata is single parquet
    files; a regenerated file cannot keep both identical)."""
    out = {}
    for t in tables:
        st = os.stat(os.path.join(sf_dir, f"{t}.parquet"))
        out[t] = {"mtime_ns": st.st_mtime_ns, "size": st.st_size}
    return out


def index_current(path: str, sf_dir: str, tables: tuple[str, ...]) -> bool:
    """True iff the persisted index at ``path`` carries a source
    manifest matching the CURRENT source files. A persisted index keyed
    only by the sf-dir tag silently serves stale results when testdata
    is regenerated in place — the manifest makes that a rebuild instead
    (leading-underscore filename, so Spark's parquet reader ignores it
    inside table directories)."""
    import json

    try:
        with open(os.path.join(path, _MANIFEST)) as fh:
            return json.load(fh) == _source_fingerprint(sf_dir, tables)
    except (OSError, ValueError):
        return False


def write_index_manifest(path: str, sf_dir: str,
                         tables: tuple[str, ...]) -> None:
    """Record the source fingerprint — call LAST, after every index
    artifact is fully written, so a crashed build reads as stale."""
    import json

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, _MANIFEST), "w") as fh:
        json.dump(_source_fingerprint(sf_dir, tables), fh)


#: (application id, artifact dir, manifest mtime_ns) → DataFrame handle
_PARQUET_HANDLES: dict[tuple[str, str, int], object] = {}


def cached_parquet(spark, root: str, name: str):
    """A DataFrame handle for one artifact of a manifest-guarded index,
    cached per (application, path, manifest mtime).

    ``spark.read.parquet`` re-reads parquet footers on the DRIVER to
    infer the schema every time the relation is created; a gate that
    re-creates its state relations per repetition pays ~0.1 s of pure
    metadata I/O per artifact (~0.8 s per incremental-curation rep at
    8 artifacts — measured). A production session reads a table's
    schema from the catalog once; this cache is the path-based
    equivalent. Only the schema and file listing are pinned — every
    action still scans the parquet data, so nothing here caches
    RESULTS across runs. Staleness keys on the index's source-manifest
    mtime (the file written LAST by every builder), so a rebuilt index
    gets a fresh relation; an artifact without a manifest is read
    uncached."""
    full = os.path.join(root, name)
    try:
        mtime = os.stat(os.path.join(root, _MANIFEST)).st_mtime_ns
    except OSError:
        return spark.read.parquet(full)
    key = (spark.sparkContext.applicationId, full, mtime)
    df = _PARQUET_HANDLES.get(key)
    if df is None:
        df = spark.read.parquet(full)
        _insert_fresh(_PARQUET_HANDLES, key, df)
    return df


def _insert_fresh(cache: dict, key: tuple[str, str, int], value) -> None:
    """Insert under ``key`` and drop every older-mtime key of the same
    (application, path): a rebuilt index makes them unreachable, so
    without eviction each rebuild leaks one handle."""
    for k in [k for k in list(cache) if k[:2] == key[:2]]:
        cache.pop(k, None)
    cache[key] = value


#: (application id, artifact dir, manifest mtime_ns) → first Row
_FIRST_ROWS: dict[tuple[str, str, int], object] = {}


def cached_parquet_first(spark, root: str, name: str):
    """First row of a 1-row metadata artifact (index geometry and the
    like) of a manifest-guarded index, cached with cached_parquet's
    staleness key. The read is bounded by construction (these artifacts
    are written coalesce(1) with a handful of scalars); caching the row
    saves one driver job per gate repetition without caching anything
    data-sized."""
    full = os.path.join(root, name)
    try:
        mtime = os.stat(os.path.join(root, _MANIFEST)).st_mtime_ns
    except OSError:
        return spark.read.parquet(full).first()
    key = (spark.sparkContext.applicationId, full, mtime)
    if key not in _FIRST_ROWS:
        _insert_fresh(_FIRST_ROWS, key,
                      cached_parquet(spark, root, name).first())
    return _FIRST_ROWS[key]
