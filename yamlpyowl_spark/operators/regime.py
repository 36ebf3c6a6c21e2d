"""Measured-size dispatch for the iterative operators.

Closure, connected components, SWRL and linking each choose how to run
from the measured size of their input: a tiny input is computed on the
driver from one bounded collect, a small one is broadcast into the
joins, and a big one keeps the shuffle plans. The shared bounds and the
two primitives live here; a regime never changes a result set, only
the plan that computes it.

Callers read the bounds as ``regime.BROADCAST_ROWS`` /
``regime.DRIVER_EDGES`` at call time, so a test can move a bound to
force a regime.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, Row, functions as F

# Join sides of at most this many rows are broadcast-hinted. The widest
# hinted tuple (a fact row, or an (iri, canonical) pair) is about 200 B,
# so about 20 MB at the bound — under the session's 64 MB
# autoBroadcastJoinThreshold, with headroom for a fixpoint's growth.
BROADCAST_ROWS = 100_000

# Edge rows (two strings each) up to which closure and CC run on the
# driver: one bounded collect of about 1 MB. At this size the iterative
# loops cost Spark job latency (a few jobs per round), not compute.
DRIVER_EDGES = 5_000


def driver_rows(df: DataFrame, n: int) -> Optional[List[Row]]:
    """The rows of ``df`` if it has at most ``n``, else None. One
    ``limit(n + 1).collect()`` answers both "how big" and "what are
    the rows" — never an unbounded collect."""
    rows = df.limit(n + 1).collect()
    return rows if len(rows) <= n else None


def maybe_broadcast(df: DataFrame, rows: int) -> DataFrame:
    """``df`` with a broadcast hint when ``rows`` — its measured row
    count, or a bound on it — is at most ``BROADCAST_ROWS``; past the
    bound the shuffle plan stands."""
    return F.broadcast(df) if rows <= BROADCAST_ROWS else df
