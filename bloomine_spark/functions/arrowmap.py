"""One Python pass per chain of Arrow kernels.

Every ``mapInArrow`` node is its own Python pass: between two chained
nodes each row crosses Arrow → JVM rows → Arrow, and each pass pays the
Python worker's fixed per-task setup. ``map_in_arrow`` is
``df.mapInArrow(kernel, schema)`` except when ``df`` is itself the
uncached output of ``map_in_arrow``: then ``kernel`` runs on the record
batches of ``df``'s kernel inside one node over ``df``'s own input, so
only ``kernel``'s output reaches the JVM. A cached ``df`` (``cache()`` and
``persist()`` return the same object) keeps its two-node plan and is read
from the cache; any other DataFrame (a ``select``/``drop``/``filter`` of
one, a parquet scan) is not a ``map_in_arrow`` output and is mapped as is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# attribute naming the (input DataFrame, kernel) of a map_in_arrow output
_SOURCE = "_arrow_map_source"


def map_in_arrow(df: DataFrame, kernel, schema) -> DataFrame:
    """``df.mapInArrow(kernel, schema)``, fused with ``df``'s own kernel
    into one pass when ``df`` is an uncached ``map_in_arrow`` output."""
    source = vars(df).get(_SOURCE)
    if source is not None and not df.is_cached:
        df, inner = source
        outer = kernel

        def kernel(batches):
            return outer(inner(batches))

    out = df.mapInArrow(kernel, schema)
    vars(out)[_SOURCE] = (df, kernel)
    return out
