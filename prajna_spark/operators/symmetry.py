"""One-pass edge symmetrization.

Every graph operator here consumes the UNDIRECTED graph as both
orientations of each edge. The obvious spelling —
``e.unionAll(e.select(dst, src))`` — puts the edge-derivation subtree
under BOTH union branches: until the frame is materialized somewhere,
the two branches execute the upstream (typically an exploding self-join
plus a distinct) TWICE, concurrently, inside the very job that was meant
to materialize it (lazy persist does not help — the branch tasks race to
populate the cache; measured live in the r11 profiles). Emitting both
orientations with a per-row ``explode`` keeps one subtree and one scan:
same multiset of rows, half the upstream work, no cache race
(guide §2.4 — remove shuffles/passes outright).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def undirected_edges(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The simple undirected graph of a directed edge list: self-loops
    dropped, each edge once as ``(a, b)`` with ``a < b``. Lazy: callers
    checkpoint it (or its :func:`symmetrize`) where it is reused."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u") != F.col("v")
    )
    return e.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()


def symmetrize(
    df: DataFrame, a: str, b: str, extra: Sequence[str] = ()
) -> DataFrame:
    """Both orientations of every (a, b) row in ONE pass: each input row
    explodes into (a, b, *extra) and (b, a, *extra). Columns ``a`` and
    ``b`` must share a type (they swap positions). Column order of the
    result is (a, b, *extra)."""
    fwd = F.struct(
        F.col(a).alias(a),
        F.col(b).alias(b),
        *[F.col(c).alias(c) for c in extra],
    )
    rev = F.struct(
        F.col(b).alias(a),
        F.col(a).alias(b),
        *[F.col(c).alias(c) for c in extra],
    )
    return df.select(F.explode(F.array(fwd, rev)).alias("__e")).select(
        *[F.col(f"__e.{c}").alias(c) for c in (a, b, *extra)]
    )
