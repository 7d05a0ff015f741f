"""Distributed mergeable-sketch aggregation (the UDAF framework).

Design (SURVEY.md §7 step 5): a sketch aggregation is two physical stages —

1. **partials** — a shuffle-free ``mapInArrow`` pass (one kernel,
   ``fold_partition``, for any number of group columns; a null key is its
   own group) over only the group and value columns, that folds every
   partition into one tiny binary sketch state per (partition × group): the
   map-side combine. This is where all the data volume dies; what
   shuffles afterwards is O(partitions × groups × state_size) bytes,
   independent of row count — the property that makes this viable at
   10^12 rows.
2. **merge** — grouped: ``groupBy(keys).applyInPandas`` (each group merges
   its ≤P small states); global: one collect of the partial states in
   partition order and a driver-side fold in that order, so the global
   aggregation is ONE Spark job. Above ``fanin`` partitions, rounds of
   bucketed merges (bucket = position // fanin, merged in position order)
   run as shuffle stages of that same job, so no merge ever folds more than
   ``fanin`` states (the distributed analog of the reference's
   futures-collection loop, /root/reference/src/BlooMineUtils.cpp:275-280,
   which is O(P) on one thread — ours is O(log_fanin P) rounds).

Sketch value objects only need: ``update_values(np.ndarray)``,
``merge(other)``, ``to_bytes()``, classmethod ``from_bytes``. A member of a
``CompositeSketch`` may also define ``update_counts(distinct, counts)``: the
composite then hands it one value histogram per batch instead of the raw
values (see ``value_histogram``).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATE_COL = "sketch_state"


def _values_of(pdf_col: pd.Series) -> np.ndarray:
    """Extract a flat numpy value array from a batch column.

    Array columns (e.g. ``tokens``) are flattened; scalar columns pass
    through. All-vectorized.
    """
    if len(pdf_col) == 0:
        return np.empty(0, dtype=np.int64)
    first = pdf_col.iloc[0]
    if isinstance(first, (np.ndarray, list)):
        parts = [np.asarray(a) for a in pdf_col.to_numpy() if len(a)]
        if not parts:
            return np.empty(0, dtype=np.int64)
        return np.concatenate(parts)
    return pdf_col.to_numpy()


def value_histogram(values: np.ndarray):
    """``(distinct, counts)`` of ``values`` from one ``np.bincount``, or
    ``None`` when the values are not non-negative integers with
    max < ``len(values)`` — the data gate that bounds the histogram by the
    batch's own size (token ids over a small vocabulary pass; hashes,
    floats, negative and empty arrays do not)."""
    v = np.asarray(values)
    if v.dtype.kind not in "iu" or len(v) == 0 or v.min() < 0 or v.max() >= len(v):
        return None
    counts = np.bincount(v.astype(np.intp, copy=False))
    distinct = np.flatnonzero(counts)
    return distinct, counts[distinct]


class CompositeSketch:
    """Several mergeable sketches folded in ONE pass over the input.

    Different summaries of the same corpus (e.g. CMS frequencies + MG heavy
    hitters) are each one-pass mergeable folds — running them as separate
    ``sketch_agg_global`` calls scans the corpus once per sketch. A
    composite updates every member per batch, so the scan cost is paid
    once and the members still merge independently. Members that define
    ``update_counts`` (HLL, count-min, theta) get one shared value histogram
    per call when ``value_histogram`` accepts the values; their states are
    functions of that histogram (register max, k smallest distinct hashes,
    counter sums), so they are byte-identical to ``update_values`` on the
    raw values. Serialization embeds
    each member's ``module:qualname`` so ``from_bytes`` reconstructs the
    members on any executor (all sketch classes ship in the addPyFile zip).
    """

    MAGIC = b"CMP1"

    def __init__(self, sketches):
        self.sketches = list(sketches)

    def update_values(self, values: np.ndarray) -> None:
        counted = any(hasattr(s, "update_counts") for s in self.sketches)
        hist = value_histogram(values) if counted else None
        for s in self.sketches:
            if hist is not None and hasattr(s, "update_counts"):
                s.update_counts(*hist)
            else:
                s.update_values(values)

    def merge(self, other: "CompositeSketch") -> None:
        if len(other.sketches) != len(self.sketches):
            raise ValueError(
                f"composite arity mismatch: {len(self.sketches)} vs "
                f"{len(other.sketches)}"
            )
        for a, b in zip(self.sketches, other.sketches):
            a.merge(b)

    def to_bytes(self) -> bytes:
        import struct

        parts = [self.MAGIC, struct.pack("<I", len(self.sketches))]
        for s in self.sketches:
            name = f"{type(s).__module__}:{type(s).__qualname__}".encode()
            blob = s.to_bytes()
            parts += [
                struct.pack("<I", len(name)), name,
                struct.pack("<Q", len(blob)), blob,
            ]
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CompositeSketch":
        import importlib
        import struct

        if blob[:4] != cls.MAGIC:
            raise ValueError("not a CompositeSketch blob")
        off = 4
        (n,) = struct.unpack_from("<I", blob, off)
        off += 4
        members = []
        for _ in range(n):
            (ln,) = struct.unpack_from("<I", blob, off)
            off += 4
            mod, _, qual = blob[off : off + ln].decode().partition(":")
            off += ln
            (lb,) = struct.unpack_from("<Q", blob, off)
            off += 8
            # walk dotted qualnames so nested classes (qualname
            # "Outer.Inner") deserialize on executors too
            member_cls = importlib.import_module(mod)
            for part in qual.split("."):
                member_cls = getattr(member_cls, part)
            members.append(member_cls.from_bytes(blob[off : off + lb]))
            off += lb
        return cls(members)


def _group_order(rb, group_cols: list[str]):
    """Rows of ``rb`` stably ordered by group, each group's row bounds in
    that order, and each group's key tuple.

    Every key column is dictionary-encoded with null as its own entry — a
    null key is its own group, as in Spark's ``groupBy`` — and the codes
    fold column by column into one compact per-batch group id.
    """
    import pyarrow.compute as pc

    gid = np.zeros(rb.num_rows, dtype=np.int64)
    for c in group_cols:
        enc = pc.dictionary_encode(rb.column(c), null_encoding="encode")
        codes = enc.indices.to_numpy(zero_copy_only=False)
        _, gid = np.unique(gid * len(enc.dictionary) + codes, return_inverse=True)
    order = np.argsort(gid, kind="stable")
    bounds = np.searchsorted(gid[order], np.arange(gid.max() + 2))
    first = order[bounds[:-1]]
    keys = list(zip(*(rb.column(c).take(first).to_pylist() for c in group_cols)))
    return order, bounds, keys


def fold_partition(batches, group_cols: list[str], value_col: str, factory):
    """The partial-fold kernel: fold one partition's Arrow record batches
    into one sketch state per group.

    Returns ``(states, rows, n_values)``: ``states`` is a record batch of
    the group columns + ``sketch_state`` (``None`` when a grouped fold saw
    no rows; the ungrouped fold always yields one state, and an empty one
    is harmless to merge). Values reach ``update_values`` in their native
    dtype and in batch order: grouped rows are taken once in group order
    and the value buffer is sliced at the group bounds.
    """
    import pyarrow as pa

    acc: dict[tuple, object] = {} if group_cols else {(): factory()}
    key_types = None
    rows = n_values = 0
    for rb in batches:
        if rb.num_rows == 0:
            continue
        rows += rb.num_rows
        col = rb.column(value_col)
        if group_cols:
            key_types = [rb.schema.field(c).type for c in group_cols]
            order, bounds, keys = _group_order(rb, group_cols)
            col = col.take(order)
        else:
            bounds, keys = np.array([0, rb.num_rows]), [()]
        if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
            offsets = col.offsets.to_numpy()
            vals = col.values.to_numpy(zero_copy_only=False)[offsets[0] : offsets[-1]]
            bounds = offsets[bounds] - offsets[0]
        else:
            vals = col.to_numpy(zero_copy_only=False)
        n_values += len(vals)
        for key, lo, hi in zip(keys, bounds[:-1], bounds[1:]):
            sk = acc.get(key)
            if sk is None:
                sk = acc[key] = factory()
            sk.update_values(vals[lo:hi])
    if not acc:
        return None, rows, n_values
    data = {
        c: pa.array([k[i] for k in acc], type=key_types[i])
        for i, c in enumerate(group_cols)
    }
    data[STATE_COL] = pa.array([sk.to_bytes() for sk in acc.values()], type=pa.binary())
    return pa.RecordBatch.from_pydict(data), rows, n_values


def sketch_partials(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    factory: Callable[[], "object"],
) -> DataFrame:
    """Stage 1: one sketch state per (partition, group). Shuffle-free.

    Runs ``fold_partition`` as ``mapInArrow`` for any number of group
    columns over only the group and value columns (``mapInArrow`` cannot
    prune its input, so the select does): a list column's Arrow layout IS
    the flat-values+offsets form the update kernels want, so the fold reads
    the token buffer without per-row ndarray materialization.
    """
    schema = T.StructType(
        [df.schema[c] for c in group_cols]
        + [T.StructField(STATE_COL, T.BinaryType())]
    )

    def kernel(batches):
        states, _, _ = fold_partition(batches, group_cols, value_col, factory)
        if states is not None:
            yield states

    # a value column that is also a group column is read once
    cols = list(dict.fromkeys([*group_cols, value_col]))
    return df.select(*cols).mapInArrow(kernel, schema=schema)


def _merge_states(states: list[bytes], factory) -> bytes:
    cls = type(factory())
    it = iter(states)
    merged = cls.from_bytes(next(it))
    for s in it:
        merged.merge(cls.from_bytes(s))
    return merged.to_bytes()


def merge_grouped(
    partials: DataFrame, group_cols: list[str], factory
) -> DataFrame:
    """Stage 2 (grouped): merge each group's partial states into one."""
    schema = T.StructType(
        [partials.schema[c] for c in group_cols]
        + [T.StructField(STATE_COL, T.BinaryType())]
    )

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = {c: [pdf[c].iloc[0]] for c in group_cols}
        out[STATE_COL] = [_merge_states(list(pdf[STATE_COL]), factory)]
        return pd.DataFrame(out)

    return partials.groupBy(*group_cols).applyInPandas(merge_fn, schema=schema)


def _merge_round(factory, fanin: int):
    """One tree round over ``(bucket, (pos, state))`` records of one
    bucket: merge them in position order and key the result by the next
    round's bucket."""

    def merge_bucket(records):
        records = sorted(records, key=lambda r: r[1][0])  # stable: row order
        if records:
            bucket = records[0][0]
            merged = _merge_states([state for _, (_, state) in records], factory)
            yield bucket // fanin, (bucket, merged)

    return merge_bucket


def tree_merge_global(
    partials: DataFrame, factory, fanin: int = 64
) -> bytes:
    """Stage 2 (global): merge all partial states in partition order, in
    ONE Spark job.

    The ungrouped fold yields exactly one state per input partition, so the
    state count comes from the plan (the partition count), not from a
    ``count`` job. With ≤ ``fanin`` partitions the states are collected in
    partition order and folded on the driver in that order. Above that,
    each round shuffles state ``pos`` to bucket ``pos // fanin`` (bucket b
    lands in partition b of ⌈n/fanin⌉, so each task merges exactly one
    bucket of ≤ ``fanin`` states, in position order) — rounds are shuffle
    stages of the same job, and the result is the same fixed tree on every
    run.
    """
    states = partials.select(STATE_COL).rdd
    n = states.getNumPartitions()
    if n > fanin:
        cur = states.mapPartitionsWithIndex(
            lambda i, rows: ((i // fanin, (i, bytes(r[0]))) for r in rows)
        )
        while n > fanin:
            n = -(-n // fanin)
            cur = cur.partitionBy(n, lambda b: b).mapPartitions(
                _merge_round(factory, fanin)
            )
        blobs = [state for _, (_, state) in sorted(cur.collect(), key=lambda r: r[1][0])]
    else:
        blobs = [bytes(r[0]) for r in states.collect()]
    if not blobs:
        return factory().to_bytes()
    return _merge_states(blobs, factory)


def sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    factory: Callable[[], object],
) -> DataFrame:
    """Grouped sketch aggregation → DataFrame[group_cols..., sketch_state]."""
    partials = sketch_partials(df, group_cols, value_col, factory)
    return merge_grouped(partials, group_cols, factory)


def sketch_agg_global(
    df: DataFrame, value_col: str, factory, fanin: int = 64
):
    """Global (ungrouped) sketch aggregation → merged sketch object."""
    partials = sketch_partials(df, [], value_col, factory)
    blob = tree_merge_global(partials, factory, fanin=fanin)
    return type(factory()).from_bytes(blob)


def estimates_df(
    sketches: DataFrame,
    factory,
    estimator: Callable[[object], float],
    out_col: str = "estimate",
) -> DataFrame:
    """Map a state column to a numeric estimate column (Arrow-batched)."""
    cls = type(factory())

    @F.pandas_udf(T.DoubleType())
    def est(states: pd.Series) -> pd.Series:
        return states.apply(lambda b: float(estimator(cls.from_bytes(b))))

    return sketches.withColumn(out_col, est(F.col(STATE_COL)))
