"""Gate-scoped cache pinning (VERDICT r9 #6).

Operators pin reused intermediates with :func:`pin` (persist) or
:func:`pin_checkpoint` (localCheckpoint — eager lineage cut) instead of
raw ``persist()``/``localCheckpoint()``. Every pin registers in a
module-level ledger; harnesses that run many gates in ONE session
(bench.py, tools/check_oracles.py, tools/bench_sf1_new.py, the
multi-gate pytest) call :func:`release_pins` after FULLY consuming each
gate's result, so the block manager returns to empty between gates and
later gates' timings aren't colored by earlier gates' residue.

``release_pins`` is a HARNESS boundary, never called inside a gate: a
gate's returned DataFrame may depend on its pins (including
localCheckpoints, whose lineage is truncated — unpersisting one makes
the frame unrecomputable), so release is only safe after the consumer
has materialized the result. Harnesses rebuild the DataFrame per
repetition, which keeps that contract trivial.

Sites that manage their own cache lifecycle within one operation (the
MERGE internals in tables/table.py) keep explicit persist/unpersist
pairs; a double unpersist on a pinned frame is a harmless no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_PINS: list[tuple[str, DataFrame]] = []

#: byte suffixes Spark's own JavaUtils.byteStringAsBytes accepts
_SIZE_SUFFIXES = (("pb", 1024 ** 5), ("tb", 1024 ** 4), ("gb", 1024 ** 3),
                  ("mb", 1024 ** 2), ("kb", 1024), ("p", 1024 ** 5),
                  ("t", 1024 ** 4), ("g", 1024 ** 3), ("m", 1024 ** 2),
                  ("k", 1024), ("b", 1))


def broadcast_threshold_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in BYTES, accepting the
    byte-suffixed forms Spark itself accepts ('10m', '1g', …). The
    measured-size gates (PageRank loop frames, connected-components
    collapse) compare exact row counts against this; a value that
    cannot be parsed — or a negative one, which means broadcasting is
    disabled — returns 0 so every gate degrades to the distributed
    shape instead of silently falling back to a default the user
    overrode (ADVICE r12)."""
    try:
        raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                                 "10485760")).strip().lower()
        for suf, mult in _SIZE_SUFFIXES:
            if raw.endswith(suf):
                return max(int(raw[: -len(suf)]) * mult, 0)
        return max(int(raw), 0)
    except (TypeError, ValueError):
        return 0


def pin(df: DataFrame) -> DataFrame:
    """``persist()`` + register for harness-boundary release.

    Chain-friendly via ``DataFrame.transform``::

        frame = (df.select(...).distinct().transform(pin))
    """
    df = df.persist()
    _PINS.append(("persist", df))
    return df


def pin_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint()`` + register. The checkpoint truncates
    lineage, so the blocks are load-bearing until the gate's consumer
    materializes — release only at harness boundaries."""
    df = df.localCheckpoint(eager=True)
    _PINS.append(("ckpt", df))
    return df


def pin_checkpoint_lazy(df: DataFrame) -> DataFrame:
    """Lazy ``localCheckpoint(eager=False)`` + register."""
    df = df.localCheckpoint(eager=False)
    _PINS.append(("ckpt", df))
    return df


def pin_mark() -> int:
    """Snapshot the ledger length so a BUILDER running inside a gate can
    release only its own pins (:func:`release_pins_since`) without
    touching pins an enclosing caller registered earlier — calling the
    global :func:`release_pins` inside a gate would free still-unconsumed
    checkpoint-backed frames (ADVICE r10)."""
    return len(_PINS)


def release_pins_since(mark: int, blocking: bool = False) -> int:
    """Unpersist only the pins registered after :func:`pin_mark`
    returned ``mark`` (newest first); returns the count released."""
    n = max(len(_PINS) - mark, 0)
    for _ in range(n):
        _release_one(_PINS.pop(), blocking)
    return n


def _release_one(entry: tuple[str, DataFrame], blocking: bool) -> None:
    kind, df = entry
    try:
        if kind == "ckpt":
            plan = df._jdf.queryExecution().analyzed()
            if plan.getClass().getName().endswith("LogicalRDD"):
                plan.rdd().unpersist(blocking)
        else:
            df.unpersist(blocking)
    except Exception:
        pass


def release_pins(blocking: bool = False) -> int:
    """Unpersist every registered pin (newest first); returns the count.

    ``DataFrame.unpersist()`` only reaches CacheManager entries, so a
    checkpointed frame's blocks (persisted on the INTERNAL RDD behind
    its LogicalRDD plan) are released by unpersisting that RDD
    directly. After release a checkpointed frame is unrecomputable —
    the harness-boundary contract. Safe to call repeatedly;
    unpersisting an already-released or self-unpersisted frame is a
    no-op."""
    n = len(_PINS)
    while _PINS:
        _release_one(_PINS.pop(), blocking)
    return n
