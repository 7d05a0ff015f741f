"""Canonical undirected view of a directed edge list.

``undirected_edges`` is the one helper left of the former graph-mining
operators (triangle counts, label propagation, k-core), which were cut
with the web-crawl host-graph queries that fed them. It has no caller in
the package; ROADMAP lists it for the next boundary cut.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["undirected_edges"]


def undirected_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Distinct canonical undirected edges ``(a, b)`` with ``a < b``;
    self-loops drop. One exchange (the distinct)."""
    s, d = F.col(src_col), F.col(dst_col)
    return (
        edges.filter(s != d)
        .select(
            F.least(s, d).alias("a"),
            F.greatest(s, d).alias("b"),
        )
        .distinct()
    )
