"""Crash-safe live-directory swap for the swap-based index families.

The LSM-style indexes that keep one live directory (IVF members, LM
scores, first-occurrence grams, line fingerprints) compact by writing
a rewritten copy into a ``<live>_compacting`` sibling and swapping it
in with two renames:

  rename(live, live_old); rename(tmp, live); rmtree(live_old)

A reader therefore never sees a half-written directory — but a crash
BETWEEN the two renames leaves no ``live`` dir at all, and a naive
``ensure_*`` (which keys on ``live/_SUCCESS``) would rebuild the
corpus-only base and silently discard every appended delta generation
(ADVICE r8, gram_index.py:146). :func:`recover_swap` closes that
window: called at the top of every ensure/compact entry point, it
rolls the swap FORWARD when the rewritten copy is complete (tmp has
its ``_SUCCESS`` marker) and BACK otherwise, then clears leftovers.
Either way the live directory again contains exactly one committed
generation set — never a mix. Re-running the interrupted compaction
afterwards is always safe (it is a pure rewrite).

A swap does not keep the old generation for a reader that planned
against it; the BM25 index uses the snapshot manifest of
sources/index_family.py instead, which does.

Pinned per index family by tests/test_crash_safety.py, which
fabricates each intermediate crash state on disk and asserts the
served rows equal the pre-crash index.
"""

from __future__ import annotations

import os
import shutil


def swap_paths(live: str) -> tuple[str, str]:
    """(tmp, old) sibling paths for a live index directory."""
    return live + "_compacting", live + "_old"


def recover_swap(live: str) -> None:
    """Repair any on-disk state an interrupted two-rename swap can
    leave behind (idempotent, cheap when there is nothing to do)."""
    tmp, old = swap_paths(live)
    if not os.path.isdir(live) and os.path.isdir(old):
        if os.path.isfile(os.path.join(tmp, "_SUCCESS")):
            os.rename(tmp, live)  # roll FORWARD: rewrite was complete
        else:
            os.rename(old, live)  # roll BACK: rewrite never finished
    if os.path.isdir(live):
        for d in (tmp, old):
            if os.path.isdir(d):
                shutil.rmtree(d)


def swap_live(live: str) -> None:
    """Swap a fully-written ``<live>_compacting`` directory in as
    ``live`` (two renames, old generation removed last)."""
    tmp, old = swap_paths(live)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)
