"""Deterministic process-death injection (r14, verdict ask 2).

Every crash-window claim in the maintenance lifecycle (sketch swaps,
layout compaction swaps, streaming publish/marker windows) was proven
against *simulated* stranded files through r13 — directories renamed
by hand into the post-crash shape. This seam replaces simulation with
REAL process death: :func:`crash_point` is a no-op in production, but
when ``SPARK_GRAFT_CRASH_POINT`` names a point, the process dies by
``SIGKILL`` exactly there — no ``atexit``, no JVM shutdown hooks, no
buffered-write flushes, no context-manager unwinding. What the next
process observes is precisely what a kill -9 (or OOM-killer, or node
loss) mid-operation leaves behind.

Syntax: ``SPARK_GRAFT_CRASH_POINT=<name>`` dies on the first hit of
``<name>``; ``<name>:N`` dies on the Nth hit (1-based) — e.g.
``layout_publish_before_marker:2`` lets micro-batch 0 commit cleanly
and kills the process inside batch 1's publish window.

The registered points (each one line inside the window it names):

- ``sketch_swap_between_renames`` — the sketch cells' store.Swap
  (llm._write_cells), between ``rename(target, old)`` and
  ``rename(tmp, target)``: the stranded swap ``Swap.read`` must refuse
  and the next writer's ``Swap.heal`` must repair.
- ``layout_swap_between_renames`` — the store.Swap that publishes
  every layout table write (catalog._rewrite_layout: full builds,
  appends, minor and major compaction), same window: readers fail
  loudly (the catalog table points at a missing dir) and the next
  maintainer entry restores the previous tree in O(1) via
  ``Swap.heal`` — the staged tree holds no manifest until the publish
  writes it, so an interrupted append is rolled back and redone exactly
  once, and an interrupted rebuild leaves the previous table serving.
- ``minor_compact_mid_scratch`` — catalog._rewrite_layout, the routine
  shared by every layout write (the name predates the sharing), after
  the new rows are written into the staged tree but
  before the kept files are hardlinked beside them: nothing published;
  the next entry must clean the staged tree and redo.
- ``layout_publish_before_marker`` — catalog.layout_ingest_writer,
  after the deterministic part publication but before the marker
  commit: the marker proves the layout never consumed the partial set,
  and the checkpoint replay must delete + republish it exactly once.
- ``layout_marker_before_append`` — same writer, after the marker
  commit but before the manifest-diff append: the replay skips
  publication (marker says consumed) and the every-call maintenance
  build heals the append.

Consumed by ``scripts/crash_injection_probe.py`` (the kill matrix with
its artifact) and ``tests/test_crash_injection.py``.
"""

from __future__ import annotations

import os
import signal

_hits: dict[str, int] = {}


def crash_point(name: str) -> None:
    """Die by SIGKILL here iff ``SPARK_GRAFT_CRASH_POINT`` names this
    point (optionally ``name:N`` for the Nth hit). No-op otherwise."""
    armed = os.environ.get("SPARK_GRAFT_CRASH_POINT")
    if not armed:
        return
    want, sep, nth = armed.partition(":")
    if want != name:
        return
    # validate the Nth-hit spec BEFORE touching the hit counter: a
    # malformed spec ("name:", "name:abc") must fail as a clearly
    # named configuration error, not as a bare int() ValueError from
    # inside the armed production seam after state already moved
    # (r14 self-review finding)
    if sep:
        try:
            nth_n = int(nth)
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_CRASH_POINT={armed!r}: the part after "
                f"':' must be an integer hit count (e.g. {name}:2)"
            ) from None
    else:
        nth_n = 1
    _hits[name] = _hits.get(name, 0) + 1
    if _hits[name] >= nth_n:
        # stderr is unbuffered enough to usually survive; the kill
        # must not depend on it either way
        try:
            os.write(2, f"[crashpoint] SIGKILL at {name} "
                        f"(hit {_hits[name]})\n".encode())
        except OSError:
            pass
        os.kill(os.getpid(), signal.SIGKILL)
