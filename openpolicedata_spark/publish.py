"""The on-disk commit protocol of every persisted write in the package.

- **publish** (append): `publish` stages a batch's frames under a hidden
  `<root>/.stage_<tag>__/`, commits them with a `_COMMITTED` marker, and
  renames them into their targets; `roll_forward` finishes or discards
  what a crashed publish left. Used by the appending sinks and
  `operators.dedup.exact_dedup_ingest`.
- **swap** (replace): a writer stages a whole table at
  `fresh_stage(live, tag)`; `swap` renames the old table aside and the
  stage into place, and `recover` finishes a swap a crash interrupted.
  Used by the replacing sinks, scd2's bucket swaps, `rebucket_scd2` and
  `compact_parquet_dir`.

Plain renames on one filesystem; readers skip the dot- and
underscore-prefixed names used here. A table format (Delta/Iceberg)
would replace this module with atomic metadata commits.
"""

from __future__ import annotations

import glob
import json
import os
import shutil

COMMITTED = "_COMMITTED"


def aside_of(live: str) -> str:
    """Where `swap` moves a whole-directory table during a swap."""
    return live.rstrip("/") + ".__old__"


def fresh_stage(live: str, tag) -> str:
    """The stage directory for replacing `live`, after deleting the
    stages a crashed writer left beside it (one writer per `live`)."""
    base = live.rstrip("/")
    for stale in glob.glob(glob.escape(base) + ".__stage_*__"):
        shutil.rmtree(stale, ignore_errors=True)
    return f"{base}.__stage_{tag}__"


def recover(live: str, aside: str, reader: bool = False) -> None:
    """Finish an interrupted `swap`. A missing `live` is restored from
    its aside; losing that rename to a racing restore or swap is benign
    once `live` exists. An aside beside a live table is stale, and only
    a writer deletes it: to a reader (`reader=True`) a swap in flight
    looks like a crash, and deleting its aside would fail the swap."""
    if os.path.isdir(live):
        if not reader and os.path.isdir(aside):
            shutil.rmtree(aside)
        return
    if not os.path.isdir(aside):
        return
    try:
        os.rename(aside, live)
    except OSError:
        if not os.path.isdir(live):
            raise


def swap(stage: str, live: str, aside: str) -> None:
    """Replace directory `live` with `stage` by rename-aside: the old
    copy stays at `aside` until the new one is in place, so no crash
    point loses the table. A reader's `recover` may restore the aside
    between the two renames; the stage rename then fails against a live
    directory, so the restored copy moves aside again and the rename is
    retried. Any other failure propagates."""
    for _ in range(1000):
        if os.path.isdir(live):
            shutil.rmtree(aside, ignore_errors=True)
            os.rename(live, aside)
        try:
            os.rename(stage, live)
            break
        except OSError:
            if not os.path.isdir(live):
                raise
    else:
        raise OSError(f"swap into {live} could not land after 1000 "
                      f"attempts — a process keeps restoring {aside}")
    shutil.rmtree(aside, ignore_errors=True)


def _land(stage: str) -> None:
    """Move a committed stage's files into their targets (idempotent:
    the marker stays until every move is done), or delete an
    uncommitted stage."""
    marker = os.path.join(stage, COMMITTED)
    if os.path.isfile(marker):
        with open(marker) as fh:
            targets = json.load(fh)
        for i, target in enumerate(targets):
            src = os.path.join(stage, str(i))
            if not os.path.isdir(src):
                continue  # moved whole before the crash
            recover(target, aside_of(target))
            if not os.path.isdir(target):
                os.makedirs(os.path.dirname(target), exist_ok=True)
                os.rename(src, target)
                continue
            for name in os.listdir(src):
                if not name.startswith((".", "_")):
                    os.rename(os.path.join(src, name),
                              os.path.join(target, name))
    shutil.rmtree(stage, ignore_errors=True)


def roll_forward(root: str) -> None:
    """Finish every publish under `root` that committed before a crash
    and delete every one that did not. Run it before reading anything a
    publish under `root` writes to."""
    if os.path.isdir(root):
        for name in sorted(os.listdir(root)):
            if name.startswith(".stage_"):
                _land(os.path.join(root, name))


def publish(root: str, tag: str, pubs) -> None:
    """Publish `pubs`, (DataFrame, target_dir) pairs, together or not at
    all: write each frame to `<root>/.stage_<tag>__/<i>`, create the
    `_COMMITTED` marker listing the targets by rename, then move the
    staged files into their targets — a new target directory moves
    whole, so a `batch=<tag>` directory appears at once. A crash before
    the marker publishes nothing; after it, `roll_forward(root)`
    finishes the moves. Targets share root's filesystem; one writer per
    root."""
    stage = os.path.join(root, f".stage_{tag}__")
    for i, (df, _) in enumerate(pubs):
        df.write.mode("overwrite").parquet(os.path.join(stage, str(i)))
    tmp = os.path.join(stage, COMMITTED + ".tmp")
    with open(tmp, "w") as fh:
        json.dump([os.path.abspath(t) for _, t in pubs], fh)
    os.rename(tmp, os.path.join(stage, COMMITTED))
    _land(stage)


def read_index(spark, index_path: str):
    """The published index at `index_path`, or None while it holds no
    data files (absent, or emptied by a crash during its first write).
    A restore-only `recover` runs first: a compaction that died between
    its swap renames leaves the index only at its aside, and reading it
    as empty would silently re-admit everything."""
    recover(index_path, aside_of(index_path), reader=True)
    if not glob.glob(os.path.join(glob.escape(index_path), "*.parquet")):
        return None
    return spark.read.parquet(index_path)
