"""Release registry for operator-internal persisted DataFrames.

The pair-finding operators (dedup/similarity/textops) persist a
multi-consumer subtree (signature table, inverted index, gram table)
that the RETURNED lazy DataFrame reads — an in-operator try/finally
unpersist would drop the blocks before the caller's action ran, so
those persists cannot be released at operator exit (unlike the loop
persists in graphalgs, which are consumed inside the operator and ARE
released in ``finally``).

Previously they relied solely on the ContextCleaner reclaiming blocks
once the Python handles were garbage collected; in a long-lived
session MEMORY_AND_DISK blocks from hundreds of operator calls can
accumulate until GC happens to run (round-12 verdict #7).  This
registry makes the release explicit: operators register each such
persist via ``tracked_persist``, and harness boundaries — the bench's
reset before each timed run, a serving loop between requests — call
``release_operator_persists()`` once the previous result has been
consumed.  One live result at a time: a caller holding a result
across a release boundary re-executes from the (unpersisted)
lineage, which is correct, just slower.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LIVE: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)`` + registration for the next
    ``release_operator_persists()`` sweep.  Chainable via
    ``DataFrame.transform``."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(out)
    return out


def release_operator_persists() -> int:
    """Unpersist every tracked block; returns how many were released.
    BLOCKING: callers are harness boundaries (the bench's reset before
    each timed run), and an async release would overlap the NEXT timed run with
    block-removal work — the removal must finish outside the timed
    region.  Safe to call with the session already stopped
    (best-effort)."""
    n = len(_LIVE)
    while _LIVE:
        try:
            _LIVE.pop().unpersist(blocking=True)
        except Exception:
            pass  # session shutting down: blocks die with the executor
    return n
