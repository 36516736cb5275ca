"""The stored-product lifecycle shared by every persisted product.

The reference loads its one schema with an idempotent delete-before-
insert (``python/ingest_data.py:88-183``). Every product this engine
persists — the workload layout (catalog.py) and the CM / Bloom sketches
(queries/llm.py) — keeps the same guarantees through one protocol:

- **atomic JSON**: :func:`write_json` stages a hidden temp file and
  ``os.replace``-s it, so a manifest or marker is either the old or the
  new version, never truncated;
- **directory swap**: :class:`Swap` publishes a fully built tree with
  two renames (target → parked, staged → target). A failure inside the
  protected region restores the parked tree; a process death between the
  renames is healed by the next *writer* (:meth:`Swap.heal`); readers
  never mutate the store and retry the brief missing-target window
  (:meth:`Swap.read`);
- **a manifest that travels with the data**: the file named by
  ``Swap.manifest`` lives inside the tree, so it moves with every rename
  and proves the tree complete;
- **replay guard**: :func:`check_stream_identity` decides whether a
  streaming micro-batch was already folded in.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable, NamedTuple

from .crashpoints import crash_point


def write_json(path: str, obj) -> None:
    """Replace ``path`` with ``obj`` as JSON atomically. The temp name is
    dot-prefixed, so Spark's file listing and ``*.parquet`` globs never
    see it."""
    tmp = os.path.join(os.path.dirname(path),
                       f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, path)


def read_json(path: str):
    """The JSON object at ``path``, or None when it is missing or
    unreadable."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


class Swap(NamedTuple):
    """One stored tree and the names its directory swap uses.

    ``staged`` holds the next version while it is built, ``old`` parks
    the previous one between the two renames, ``manifest`` is the file
    inside the tree that proves it complete, and ``seam`` names the
    ``crash_point`` between the renames."""

    target: str
    staged: str
    old: str
    manifest: str
    seam: str

    def has_manifest(self, tree: str) -> bool:
        return os.path.exists(os.path.join(tree, self.manifest))

    def heal(self) -> None:
        """Writer-only repair of a swap cut short by process death.

        - target missing: roll forward when ``staged`` holds its
          manifest, otherwise roll back to ``old``;
        - target present with its manifest: the parked tree is
          superseded and is dropped;
        - target present without its manifest: left alone — the parked
          tree may be the last complete version.

        Only the single maintainer calls this; a reader that renamed
        directories would race a live writer's swap."""
        if not os.path.isdir(self.target):
            if self.has_manifest(self.staged):
                os.rename(self.staged, self.target)
                shutil.rmtree(self.old, ignore_errors=True)
            elif os.path.isdir(self.old):
                os.rename(self.old, self.target)
                shutil.rmtree(self.staged, ignore_errors=True)
        elif self.has_manifest(self.target):
            shutil.rmtree(self.old, ignore_errors=True)

    def publish(self, then: Callable[[], None] | None = None,
                before_drop: Callable[[], None] | None = None) -> None:
        """Swap the built ``staged`` tree in as ``target``.

        ``then`` runs inside the protected region after the second
        rename; if the rename or ``then`` raises, the tree that landed
        is parked back at ``staged`` and the previous target is
        restored. ``before_drop`` runs after the swap and before the
        parked tree is deleted. ``os.rename`` is looked up per call."""
        shutil.rmtree(self.old, ignore_errors=True)
        if os.path.isdir(self.target):
            os.rename(self.target, self.old)
        crash_point(self.seam)
        try:
            os.rename(self.staged, self.target)
            if then is not None:
                then()
        except BaseException:
            if os.path.isdir(self.old):
                if os.path.isdir(self.target):
                    shutil.rmtree(self.staged, ignore_errors=True)
                    os.rename(self.target, self.staged)
                os.rename(self.old, self.target)
            raise
        if before_drop is not None:
            before_drop()
        shutil.rmtree(self.old, ignore_errors=True)

    def read(self, spark):
        """``spark.read.parquet(target)`` that never mutates the store.

        A writer's swap leaves ``target`` missing for an instant, so a
        missing path is retried for ~1 s (the read itself, too: the
        swap can land between the probe and the read). A swap stranded
        by a dead writer raises with the recovery named; a target that
        never existed raises Spark's own missing-path error."""
        last_exc = None
        for attempt in range(4):
            if attempt:
                time.sleep(0.1 * (attempt + 1))
            if os.path.exists(self.target):
                try:
                    return spark.read.parquet(self.target)
                except Exception as exc:
                    if "PATH_NOT_FOUND" not in str(exc) and \
                            "Path does not exist" not in str(exc):
                        raise
                    last_exc = exc
        if self.has_manifest(self.staged) or os.path.exists(self.old):
            if os.path.exists(self.target):  # the writer just finished
                return spark.read.parquet(self.target)
            raise ValueError(
                f"stored tree at {self.target} has a stranded swap "
                f"(crashed writer: staged/parked tree present, target "
                f"missing). Re-run its maintainer (build_*/stream_* heal "
                f"the swap on entry); readers never mutate the store."
            ) from last_exc
        return spark.read.parquet(self.target)


def check_stream_identity(owner, last: int, stream_id, batch_id: int,
                          what: str, advice: str) -> bool:
    """Exactly-once replay decision for every streaming maintainer.

    Batch ids are only monotonic within one checkpoint, so the guard is
    keyed on (stream identity, batch id). Returns True when the batch is
    a replay (the caller no-ops) and False when it should fold in.
    Raises when a different identity presents a non-monotonic batch id:
    a fresh or relocated checkpoint restarts at 0, and skipping those
    batches as replays would silently drop new data. ``last < 0`` marks
    batch-built state that any stream may adopt."""
    if last < 0:
        return False
    if owner != stream_id and int(batch_id) <= last:
        raise ValueError(
            f"{what} was last maintained by stream {owner!r} up to "
            f"batch {last}, but stream {stream_id!r} presented batch "
            f"{batch_id}: a fresh/relocated checkpoint restarts batch "
            f"ids at 0, and treating this as a replay would silently "
            f"drop new data. Resume the ORIGINAL checkpoint, or "
            f"{advice}")
    return int(batch_id) <= last
