"""Shared write-mode pinning for every partitioned overwrite.

The engine's session default is DYNAMIC partition overwrite
(session.py), but a caller's session may hold Spark's own default,
STATIC, under which a partitioned "overwrite" first drops every
partition of the table. So no write relies on the session: each pins
the mode it needs with :func:`overwrite_mode`, scoped to the write and
restored after. The warehouse writes do (``Warehouse.write`` pins
dynamic for its day-partition merges and static for a ``wipe``;
``Warehouse.compact`` and the streams' ``batch_id`` bronze and
changelog writes pin dynamic), and so do the persisted index stores, whose two write
classes need opposite pins:

- FULL-STORE writes (``save_*_index``, compact/retrain generation
  writes) must be STATIC: under dynamic overwrite a partitioned
  "overwrite" only replaces the partitions present in the written
  data, so a fresh save over a store that ever took appends would
  leave the old ``ingest_key=<batch>`` partitions alive — the store
  would keep serving retired batches' grams/signatures/vectors
  (caught live in round 8; pinned by the ``*_resave_after_append``
  tests).
- PER-BATCH appends must be DYNAMIC: a replayed batch overwrites only
  its own ``ingest_key`` partitions (the effectively-once trick);
  static would wipe every other batch.
"""

from __future__ import annotations

from contextlib import contextmanager


@contextmanager
def overwrite_mode(spark, mode: str):
    """Pin ``spark.sql.sources.partitionOverwriteMode`` to ``mode``
    for the duration, restoring the caller's setting (or unsetting)
    after — the scoped-conf pattern of the bronze offset-replay
    writer."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, mode)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


# ---------------------------------------------------------------------------
# Versioned-root pointer protocol, shared by every persisted index
# store (minhash bands/signatures, IVF vectors, contamination grams):
# the flat layout from a fresh save_* is the implicit v0; every
# compact/retrain writes a COMPLETE new generation under path/v<N>/
# and atomically swaps path/CURRENT, so readers resolve the pointer
# first, in-flight queries keep the version they resolved, a crash
# before the swap leaves the old generation serving, and old
# generations stay immutable until maintenance deletes them. Pointer
# IO rides operators/_fsio.py: plain ``os`` on local paths, the
# Hadoop FileSystem API on URIs — the same one-file swap on either.
# ---------------------------------------------------------------------------

import os as _os
import re as _re

from sensor_data_pipeline___spark.operators import _fsio


def resolve_current(path: str) -> str:
    """The store's CURRENT generation root (``path`` itself pre-swap).

    Torn-swap recovery: on filesystems whose pointer rename is
    delete-then-rename (no FileContext atomic overwrite — see
    ``_fsio.write_text_atomic``), a crash between the delete and the
    rename leaves only ``CURRENT.tmp``. The temp always holds the
    COMPLETE new pointer (fully written and closed before the swap
    began), and the generation it names is fully written before
    ``swap_current`` is ever called — so falling forward to it is
    always safe, where falling back to the FLAT root would silently
    serve the oldest generation (review r11)."""
    ptr = _os.path.join(path, "CURRENT")
    if _fsio.exists(ptr):
        return _os.path.join(path, _fsio.read_text(ptr).strip())
    tmp = ptr + ".tmp"
    if _fsio.exists(tmp):
        # Trust the temp only if it actually holds a complete pointer:
        # a crash DURING the tmp write (before close/flush) can leave
        # it partial or empty, and following a garbage pointer would
        # make the store unreadable where the flat root still serves
        # (review r12). A valid pointer is exactly ``v<N>`` and names
        # a generation dir that exists.
        gen = _fsio.read_text(tmp).strip()
        if _re.fullmatch(r"v\d+", gen) and _fsio.is_dir(
            _os.path.join(path, gen)
        ):
            return _os.path.join(path, gen)
    return path


def next_generation(path: str) -> str:
    """Root dir for the NEXT generation (``path/v<current+1>``) —
    write the full new layout there, then :func:`swap_current`."""
    cur = _os.path.basename(resolve_current(path))
    n = int(cur[1:]) + 1 if cur.startswith("v") and cur[1:].isdigit() else 1
    return _os.path.join(path, f"v{n}")


def swap_current(path: str, new_root: str) -> None:
    """Point ``path/CURRENT`` at a fully-written generation —
    atomically where the FS supports it (POSIX replace, FileContext
    overwrite-rename); elsewhere the delete-then-rename window is
    covered by :func:`resolve_current`'s fall-FORWARD recovery from
    the complete ``CURRENT.tmp``."""
    _fsio.write_text_atomic(
        _os.path.join(path, "CURRENT"), _os.path.basename(new_root)
    )


def retire_current(path: str) -> None:
    """Drop the pointer — a fresh ``save_*`` makes the flat root the
    store again (old generation dirs remain on disk, unreferenced).
    Also drops a leftover ``CURRENT.tmp``: the torn-swap recovery in
    :func:`resolve_current` reads it when CURRENT is absent, and a
    stale one would resurrect the retired generation."""
    _fsio.remove(_os.path.join(path, "CURRENT"))
    _fsio.remove(_os.path.join(path, "CURRENT.tmp"))
