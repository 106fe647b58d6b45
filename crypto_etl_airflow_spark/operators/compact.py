"""Small-file compaction for parquet tables.

Streaming / micro-batch ingest (hourly upserts, foreachBatch writes)
accretes many small files; at 100 TB that means task-per-tiny-file
scheduling overhead, metadata-bound planning, and lost scan
throughput. Compaction rewrites a table (or one partition of it)
into ~target-sized files.

Mechanics: read → ``coalesce(n)`` (n = total bytes / target) →
write to a staging dir → atomic-ish swap. ``coalesce`` merges the
scan's partitions without a shuffle, so it writes at most n files
(fewer when the scan has fewer than n partitions). The swap uses
local fs ops here (single-writer warehouse, same assumption as the
upsert writer); on object storage this becomes the FileSystem API or
a transactional format's OPTIMIZE.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_file_count(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


#: Crashed-swap aside dirs are SIBLINGS with this leaf-name prefix
#: (``table/day=a`` → ``table/.__aside.day=a``). The prefix — not a
#: suffix — is what makes the marker collision-proof: a Spark
#: partition leaf is always ``col=value`` and Spark never emits a
#: leaf starting with ``.``, so no user data value can produce an
#: aside-shaped name (a VALUE ending in ``.__old`` could, which was
#: a silent-data-loss vector: recover_tree would delete or rename
#: that user partition). Defense in depth: Spark's hidden-file
#: filter ignores ``.``-prefixed dirs on read, so even an UNHEALED
#: aside is invisible to partition discovery — a crashed swap can
#: corrupt nothing, only await healing.
_ASIDE_PREFIX = ".__aside."


def _aside_path(path: str) -> str:
    head, leaf = os.path.split(path.rstrip("/"))
    return os.path.join(head, _ASIDE_PREFIX + leaf)


def recover_directory(path: str) -> bool:
    """Heal the crash window of :func:`swap_directory`: if a prior
    swap died after renaming the live dir aside but before renaming
    staging into place, the table's only copy sits at the
    ``.__aside.``-prefixed sibling. Rename it back. Returns True if a
    recovery happened. Callers that READ a swap-managed table (merge,
    compact) run this first so a crashed swap never makes the table
    silently appear empty."""
    old = _aside_path(path)
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
        return True
    return False


def recover_tree(path: str) -> int:
    """Heal every crash window of a (possibly partition-pruned) swap:
    :func:`recover_directory` for the table dir itself, then a walk
    for ``.__aside.*`` partition directories at ANY depth. Each one is
    either the only copy of its partition (live twin missing — a
    crash between the leaf swap's two renames: rename it back) or a
    completed-swap leftover (live twin present — delete it). Returns
    the number of directories healed or cleaned.

    Only dirs carrying the reserved ``.__aside.`` leaf prefix are
    touched — a name no partition value can produce (see
    ``_ASIDE_PREFIX``), so user data can never be mistaken for an
    aside. Every swap-managed reader (merge, compact, upsert's
    anti-join) runs this first."""
    healed = int(recover_directory(path))
    if not os.path.isdir(path):
        return healed
    for root, dirs, _files in os.walk(path):
        for d in [x for x in dirs if x.startswith(_ASIDE_PREFIX)]:
            dirs.remove(d)  # never walk into an aside copy
            full = os.path.join(root, d)
            live = os.path.join(root, d[len(_ASIDE_PREFIX) :])
            if os.path.exists(live):
                shutil.rmtree(full)
            else:
                os.rename(full, live)
            healed += 1
    return healed


def swap_directory(staging: str, path: str) -> None:
    """Replace directory ``path`` with ``staging``, crash-safely
    ordered: the live dir is first renamed ASIDE (the ``.__aside.``
    sibling), then staging renamed into place, then the old dir
    deleted — so at every instant the data exists under ``path`` or
    its aside and a crash never loses the table
    (rmtree-before-rename has a window where the data is gone). A
    reader racing the two renames can still hit ENOENT — same
    single-writer assumption as the upsert writer; on object storage
    this becomes a transactional format's metadata commit."""
    old = _aside_path(path)
    # Crash window of a PRIOR swap: ``old`` may hold the table's only
    # surviving copy — restore it instead of deleting it. Only when
    # the live dir exists too is the aside copy a completed-swap
    # leftover that is safe to drop.
    recover_directory(path)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    range_cols: list[str] | None = None,
) -> int:
    """Rewrite the parquet table at ``path`` into at most
    ``ceil(size / target_file_bytes)`` files. Returns the new file
    count. Preserves rows exactly (no ordering guarantee — parquet
    tables are unordered sets).

    ``range_cols`` additionally CLUSTERS the rewrite on those columns
    (range shuffle + in-file sort, same layout as
    ``operators/layout.py::write_range_partitioned``): compaction is
    the natural moment to impose sort order, because the full rewrite
    is already being paid — afterwards, predicates on ``range_cols``
    skip whole row groups via parquet min/max stats."""
    recover_tree(path)
    n_files = max(1, math.ceil(_dir_bytes(path) / target_file_bytes))
    staging = path.rstrip("/") + ".__compact_tmp"
    df = spark.read.parquet(path)
    if range_cols:
        df = df.repartitionByRange(n_files, *range_cols).sortWithinPartitions(
            *range_cols
        )
    else:
        df = df.coalesce(n_files)
    df.write.mode("overwrite").parquet(staging)
    swap_directory(staging, path)
    return parquet_file_count(path)
