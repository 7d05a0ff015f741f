"""Structured Streaming operators.

The reference is batch-only (SURVEY.md §2.9); these are the streaming
extensions a training-data ingest pipeline needs:

 * ``screen_stream`` — the SAME fused mapInArrow screen kernel applied to a
   streaming DataFrame (mapInArrow is stateless, so it composes with
   readStream unchanged — one code path for batch and streaming).
 * ``hits_per_window_stream`` — watermarked tumbling-window hit counts with
   late-data handling.
 * five CUSTOM STATEFUL monitors via ``applyInPandasWithState``, all
   driven by ONE function, ``_keyed_state_stream``, that owns the
   ``GroupState`` protocol (load, update, idle-TTL eviction, timeout
   re-arm) around a pure per-key fold:
   ``hll_distinct_by_key_stream`` (running distinct estimate),
   ``heavy_hitters_by_key_stream`` (Misra–Gries top-k) and
   ``f2_by_key_stream`` (Count-Sketch second moment) share one sketch
   fold, ``_sketch_by_key_stream`` — the streaming form of the
   mergeable-sketch UDAF; ``lsh_dedup_stream`` (MinHash-LSH buckets) and
   ``priority_sample_by_key_stream`` (top-(k+1) priority sample) fold
   their own state.
 * ``sessions_stream`` — gap-based session windows per key via the native
   ``session_window`` aggregation (the streaming twin of the batch
   gaps-and-islands ``events_sessionize`` query).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bloomine_spark.params import ScreenParams
from bloomine_spark.sketch.core import _values_of


def screen_stream(
    stream_df: DataFrame,
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    **kwargs,
) -> DataFrame:
    """Two-phase screen on a streaming sequences DataFrame (scores stream)."""
    from bloomine_spark.operators.screen import screen_scores

    return screen_scores(stream_df, target_tokens, params, **kwargs)


def hits_per_window_stream(
    stream_df: DataFrame,
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    ts_col: str = "ts",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window hit counts per source."""
    scores = screen_stream(stream_df, target_tokens, params)
    return (
        scores.filter(F.col("sp_pass"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), "source")
        .agg(F.count("*").alias("n_hits"))
        .select(F.col("w.start").alias("window_start"), "source", "n_hits")
    )


def curate_stream(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    **gopher_rules,
) -> DataFrame:
    """Streaming curation ingest: the Gopher rule pack (stateless
    codegen expressions — bit-identical semantics to the batch
    ``textops.gopher_quality``) followed by exact content dedup within
    the watermark horizon. This is the incremental form of
    ``jobs/run_curate.py``'s filter→dedup head: documents stream in,
    rule failures drop immediately (no state), and the only state held
    is the dedup fingerprint set bounded by the watermark."""
    from bloomine_spark.operators.textops import gopher_quality

    kept = gopher_quality(
        stream_df, text_col=text_col, **gopher_rules
    ).filter("keep")
    flags = [c for c in kept.columns if c.startswith("pass_")] + ["keep"]
    return dedup_stream(
        kept.drop(*flags), text_col=text_col, ts_col=ts_col,
        watermark=watermark,
    )


def dedup_stream(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup for ingestion: fingerprint the content and
    keep the first occurrence within the watermark horizon.

    Uses Spark's built-in stateful ``dropDuplicatesWithinWatermark``, so
    state is bounded by the watermark window instead of growing with the
    stream — the unbounded-ingest form of ``operators/dedup.py``'s exact
    batch dedup (same md5-content fingerprint).
    """
    return (
        stream_df.withColumn("fingerprint", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def sessions_stream(
    stream_df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization on a stream: events of one key separated by
    less than ``gap`` merge into one session; per-session event counts and
    value sums are emitted.

    Uses Spark's NATIVE ``session_window`` aggregation (merging session
    state handled by the engine, watermark bounds the state) rather than a
    hand-rolled stateful UDF — the streaming counterpart of the batch
    ``events_sessionize`` gaps-and-islands query (lag + conditional cumsum),
    which cannot run on a stream because unbounded window functions are not
    supported there.

    Boundary note: an event arriving EXACTLY ``gap`` after the previous one
    extends the session in the batch query (strict ``>`` on the gap) but
    starts a new session under ``session_window`` (window end is exclusive).
    Real event-time data never sits on the microsecond boundary; documented
    for the equivalence test.

    ``sum_value`` aggregates as DECIMAL(18,6) then rounds, matching the
    batch query's order-independent exact summation.

    Watermarks require TIMESTAMP (with timezone) event time; a
    TIMESTAMP_NTZ column (what parquet timestamps load as) is cast,
    interpreting the wall-clock in the session timezone — gap arithmetic
    is unaffected.
    """
    if isinstance(stream_df.schema[ts_col].dataType, T.TimestampNTZType):
        stream_df = stream_df.withColumn(
            ts_col, F.col(ts_col).cast("timestamp")
        )
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), gap).alias("sw"), key_col
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col(value_col).cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            key_col,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def idempotent_parquet_batch_writer(path: str):
    """foreachBatch sink whose writes are IDEMPOTENT under re-delivery.

    Structured Streaming's foreachBatch contract is at-least-once: after a
    failure between the user function and the checkpoint commit, the SAME
    micro-batch is re-delivered with the SAME ``batch_id``. A sink that
    blindly appends therefore duplicates rows on retry. The documented
    idempotency contract for every foreachBatch sink in this package:

        derive the write location (or the upsert/MERGE key) from
        ``batch_id`` — never append blindly.

    This helper implements the file-sink form: each micro-batch lands in
    its own ``batch_id=<id>`` directory with ``mode("overwrite")``, so a
    re-delivered batch overwrites its own previous (possibly partial)
    output instead of appending a second copy, and readers see the union
    of committed batch directories. For a table sink the same contract is
    a MERGE keyed on (batch_id, row key).
    """
    import posixpath

    def write(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            posixpath.join(path, f"batch_id={batch_id}")
        )

    return write


def _keyed_state_stream(
    grouped,
    fold,
    out_schema: T.StructType,
    state_schema: T.StructType,
    idle_ttl_ms: int | None = None,
    evicted=None,
    output_mode: str = "update",
) -> DataFrame:
    """The one ``applyInPandasWithState`` driver of the stateful monitors.

    A monitor is a pure fold ``fold(key, pdfs, old) -> (new_state,
    frames)``: ``old`` is the key's stored state tuple (``None`` when the
    key has none) and ``frames`` the pandas frames to emit. This function
    owns the ``GroupState`` protocol around it: the timeout mode
    (processing time when ``idle_ttl_ms`` is set, none otherwise), storing
    the new state, and re-arming the idle timeout after every fold. A key
    that receives no data for ``idle_ttl_ms`` loses its state and emits
    ``evicted(key, old)`` when the monitor gives one; its next data folds
    from ``None`` again.
    """

    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            old = state.get
            state.remove()
            if evicted is not None:
                yield evicted(key, old)
            return
        new, frames = fold(key, pdfs, state.getOption)
        state.update(new)
        if idle_ttl_ms is not None:
            state.setTimeoutDuration(int(idle_ttl_ms))
        yield from frames

    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )


_SKETCH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("state", T.BinaryType()),
        T.StructField("n_rows", T.LongType()),
    ]
)


def _sketch_by_key_stream(
    stream_df: DataFrame,
    key_col: str,
    value_col: str,
    factory,
    emit,
    out_schema: T.StructType,
    idle_ttl_ms: int | None = None,
) -> DataFrame:
    """A mergeable sketch per key, kept across triggers: the state is
    (serialized sketch, rows seen), each trigger folds the key's new
    Arrow batches in with ``update_values`` — the batch UDAF's update,
    lifted to streaming state — and emits ``emit(key, sketch, n_rows)``,
    as does the eviction of an idle key. ``factory`` is ``sketch_agg``'s
    zero-argument constructor of an empty sketch."""
    cls = type(factory())

    def load(old):
        if old is None:
            return factory(), 0
        blob, n_rows = old
        return cls.from_bytes(bytes(blob)), n_rows

    def fold(key, pdfs, old):
        sk, n_rows = load(old)
        for pdf in pdfs:
            sk.update_values(_values_of(pdf[value_col]))
            n_rows += len(pdf)
        return (sk.to_bytes(), n_rows), [emit(key, sk, n_rows)]

    return _keyed_state_stream(
        stream_df.groupBy(key_col),
        fold,
        out_schema,
        _SKETCH_STATE_SCHEMA,
        idle_ttl_ms,
        evicted=lambda key, old: emit(key, *load(old)),
    )


_HLL_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("est_distinct", T.DoubleType()),
        T.StructField("n_rows_seen", T.LongType()),
    ]
)


def hll_distinct_by_key_stream(
    stream_df: DataFrame,
    key_col: str = "source",
    value_col: str = "tokens",
    b: int = 12,
    idle_ttl_ms: int | None = None,
) -> DataFrame:
    """Running distinct-token estimate per key via applyInPandasWithState.

    State = serialized HyperLogLog per key; each trigger folds the new
    Arrow batches into the state (update) and re-emits the estimate —
    update+merge exactly as the batch UDAF, lifted to streaming state.

    ``idle_ttl_ms`` (processing-time milliseconds) bounds state at scale:
    a key
    that receives no data for the TTL is finalized (its last estimate re-emits)
    and its state evicted, so an unbounded key universe — the norm for a
    100 TB stream keyed by source/tenant — cannot grow executor state
    forever. A key seen again later starts a FRESH sketch (the trade
    bounded state makes; keep the default ``None`` for exact
    running-forever semantics on bounded key sets).
    """
    from bloomine_spark.sketch.hll import HyperLogLog

    def emit(key, hll, n_rows):
        return pd.DataFrame(
            {
                "source": [key[0]],
                "est_distinct": [hll.estimate()],
                "n_rows_seen": [n_rows],
            }
        )

    return _sketch_by_key_stream(
        stream_df, key_col, value_col, lambda: HyperLogLog.empty(b), emit,
        _HLL_OUT_SCHEMA, idle_ttl_ms,
    )


_MG_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("item", T.LongType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("n_rows_seen", T.LongType()),
    ]
)


def heavy_hitters_by_key_stream(
    stream_df: DataFrame,
    key_col: str = "source",
    value_col: str = "tokens",
    m: int = 64,
    k: int = 10,
) -> DataFrame:
    """Running per-key heavy hitters via a Misra–Gries state sketch.

    Streaming twin of the batch MG UDAF (sketch/mg.py): state = one
    serialized m-counter summary per key (O(m), data-volume-independent),
    each trigger folds the new Arrow batches in and re-emits the current
    top-k with their estimated counts (MG guarantees est ≤ true and
    err ≤ n/m). The ingest-monitoring shape: "what tokens dominate each
    source RIGHT NOW" over an unbounded stream with bounded state.
    """
    from bloomine_spark.sketch.mg import MisraGries

    def emit(key, mg, n_rows):
        top = mg.top_k(k)
        return pd.DataFrame(
            {
                "source": [key[0]] * len(top),
                "item": [int(i) for i, _ in top],
                "est_count": [int(c) for _, c in top],
                "n_rows_seen": [n_rows] * len(top),
            }
        )

    return _sketch_by_key_stream(
        stream_df, key_col, value_col, lambda: MisraGries(m), emit,
        _MG_OUT_SCHEMA,
    )


_F2_OUT_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType()),
        T.StructField("f2_est", T.LongType()),
        T.StructField("n_rows_seen", T.LongType()),
    ]
)


def f2_by_key_stream(
    stream_df: DataFrame,
    key_col: str = "source",
    value_col: str = "tokens",
    epsilon: float = 0.02,
    delta: float = 1e-2,
    idle_ttl_ms: int | None = None,
) -> DataFrame:
    """Running second-moment (F2 = Σ_x f_x²) estimate per key via a
    Count-Sketch state (sketch/countsketch.py) — the streaming twin of
    the batch countsketch UDAF. F2/N² is the stream's self-collision
    rate: a dup flood (crawler loop, replayed shard) shows up as F2
    growing ~quadratically while N grows linearly, which makes this the
    ingest-monitoring complement of the distinct-count (HLL) monitor —
    HLL catches "too few new tokens", F2 catches "too much repeated
    mass" even when the distinct count still moves.

    State = one d×w signed-counter sketch per key (size fixed by ε/δ,
    data-volume-independent); merge = counter add, so the trigger fold
    is exactly the batch update. ``idle_ttl_ms`` evicts idle keys like
    the HLL monitor (final estimate re-emitted, fresh sketch on return).
    Per-key state at the defaults ε = 0.02, δ = 1e-2 is 5 × 8192 counters,
    327 708 bytes: 80× the HLL monitor's 4 102. It is re-serialized on
    every trigger and kept forever unless ``idle_ttl_ms`` is set.
    """
    from bloomine_spark.sketch.countsketch import CountSketch

    def emit(key, sk, n_rows):
        return pd.DataFrame(
            {
                "source": [key[0]],
                "f2_est": [sk.f2_estimate()],
                "n_rows_seen": [n_rows],
            }
        )

    return _sketch_by_key_stream(
        stream_df, key_col, value_col,
        lambda: CountSketch.empty(epsilon, delta), emit,
        _F2_OUT_SCHEMA, idle_ttl_ms,
    )


_LSH_OUT_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("est_jaccard", T.DoubleType()),
    ]
)
_LSH_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.BinaryType())),
    ]
)


def lsh_dedup_stream(
    stream_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket: int = 256,
    idle_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate monitor: the streaming twin
    of batch ``minhash_lsh_duplicates(verify="est")``. Signatures come
    from the SAME stateless mapInArrow kernel (one code path, batch and
    stream); the banded (band, bucket) explode keys an
    ``applyInPandasWithState`` state holding the bucket's seen
    (doc_id, signature) members, so a new arrival is compared against
    every co-bucketed document seen SO FAR — across triggers — and each
    pair whose matching-signature fraction ≥ threshold is emitted the
    moment the second member arrives. This is the ingest-time "is this
    shard a replay of something we already crawled" alarm that batch
    dedup only raises after the fact.

    State per bucket is capped at ``max_bucket`` members (new arrivals
    past the cap still COMPARE against the stored members but are not
    added — an over-full bucket is a degenerate hot shingle cluster,
    the same pathology the batch path's max_doc_freq cap bounds; the
    cap keeps per-key state O(max_bucket·num_perm) regardless of
    stream length). ``idle_ttl_ms`` evicts idle buckets like the other
    monitors. A pair colliding in several bands (or several triggers
    via re-arrival) can be emitted more than once — downstream sinks
    dedupe with ``dropDuplicates`` per microbatch; cross-trigger pair
    identity is (id_a, id_b).
    """
    from bloomine_spark.operators.dedup import _band_buckets_col, minhash_signatures

    assert num_perm % bands == 0
    r = num_perm // bands
    sig = minhash_signatures(stream_df, text_col, id_col, n, num_perm)
    banded = sig.select(
        "doc_id",
        "signature",
        _band_buckets_col(bands, r),
    ).select("bb.band", "bb.bucket", "doc_id", "signature")

    def fold(key, pdfs, old):
        ids, sigs = [], []
        if old is not None:
            ids = list(old[0])
            sigs = [np.frombuffer(bytes(s), dtype=np.int64) for s in old[1]]
        out_a, out_b, out_j = [], [], []
        for pdf in pdfs:
            for did, sig_arr in zip(pdf["doc_id"], pdf["signature"]):
                did = int(did)
                v = np.asarray(sig_arr, dtype=np.int64)
                if ids:
                    mat = np.stack(sigs)
                    est = (mat == v).mean(axis=1)
                    for idx in np.nonzero(est >= threshold)[0]:
                        a, b = sorted((ids[idx], did))
                        if a == b:
                            continue
                        out_a.append(a)
                        out_b.append(b)
                        out_j.append(round(float(est[idx]), 6))
                if did not in ids and len(ids) < max_bucket:
                    ids.append(did)
                    sigs.append(v)
        frames = [
            pd.DataFrame({"id_a": out_a, "id_b": out_b, "est_jaccard": out_j})
        ] if out_a else []
        return (ids, [s.tobytes() for s in sigs]), frames

    return _keyed_state_stream(
        banded.groupBy("band", "bucket"),
        fold,
        _LSH_OUT_SCHEMA,
        _LSH_STATE_SCHEMA,
        idle_ttl_ms,
        output_mode="append",
    )


_PRIO_OUT_SCHEMA = T.StructType(
    [
        T.StructField("group", T.StringType()),
        T.StructField("key", T.LongType()),
        T.StructField("weight", T.LongType()),
        T.StructField("priority", T.DoubleType()),
        T.StructField("rank", T.LongType()),
        T.StructField("est_weight", T.DoubleType()),
    ]
)
_PRIO_STATE_SCHEMA = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.LongType())),
        T.StructField("weights", T.ArrayType(T.LongType())),
        T.StructField("prios", T.ArrayType(T.DoubleType())),
    ]
)


def priority_sample_by_key_stream(
    stream_df: DataFrame,
    k: int,
    weight_col: str,
    key_col: str = "doc_id",
    group_col: str = "source",
    salt: str = "",
    idle_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming twin of ``sketch.priority.priority_sample``: a running
    top-k weighted sample + τ-calibrated subset-sum estimator per group,
    maintained across triggers with O(k) state per key (the sketch's
    top-(k+1) rows — τ needs the (k+1)-th priority). Priorities are the
    SAME md5-derived deterministic uniforms as the batch operator, so
    after the stream drains the emitted sample is bit-identical to the
    batch sample of the same corpus — arrival order cannot change it
    (pinned in tests). Emits the full current sample each trigger
    (update-mode semantics, k rows per group)."""
    import hashlib

    if k < 1:
        raise ValueError("k must be >= 1")

    def _prio(key: int, weight: int) -> float:
        h = int(
            hashlib.md5(f"{salt}:{key}".encode()).hexdigest()[:8], 16
        )
        return float(weight) / ((h + 1) / 4294967296.0)

    def fold(key, pdfs, old):
        rows = {}
        if old is not None:
            rows = {
                int(kk): (int(w), float(p)) for kk, w, p in zip(*old)
            }
        for pdf in pdfs:
            for kk, w in zip(pdf[key_col], pdf[weight_col]):
                kk, w = int(kk), int(w)
                if kk not in rows:
                    rows[kk] = (w, _prio(kk, w))
        # top-(k+1) by (priority desc, key asc) — the sketch state
        ordered = sorted(
            rows.items(), key=lambda it: (-it[1][1], it[0])
        )[: k + 1]
        tau = ordered[k][1][1] if len(ordered) > k else 0.0
        sample = ordered[:k]
        new = (
            [kk for kk, _ in ordered],
            [w for _, (w, _) in ordered],
            [p for _, (_, p) in ordered],
        )
        return new, [
            pd.DataFrame(
                {
                    "group": [str(key[0])] * len(sample),
                    "key": [kk for kk, _ in sample],
                    "weight": [w for _, (w, _) in sample],
                    "priority": [p for _, (_, p) in sample],
                    "rank": list(range(1, len(sample) + 1)),
                    "est_weight": [
                        max(float(w), tau) for _, (w, _) in sample
                    ],
                }
            )
        ]

    return _keyed_state_stream(
        stream_df.groupBy(group_col),
        fold,
        _PRIO_OUT_SCHEMA,
        _PRIO_STATE_SCHEMA,
        idle_ttl_ms,
    )


def attribution_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    key_col: str = "user_id",
    click_ts: str = "ts",
    purchase_ts: str = "ts",
    value_col: str = "value",
    horizon: str = "2 days",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join — the streaming twin of
    the batch as-of attribution (``asof_click_attribution``): every
    purchase pairs with the same user's clicks inside the attribution
    horizon (``click_ts <= purchase_ts <= click_ts + horizon``,
    inclusive both ends like the batch as-of's ``<=``).

    Emits CANDIDATE pairs, not the per-purchase argmax: a second
    stateful argmax after a stream-stream join is where streaming
    semantics get murky (the winning click is only knowable once the
    join watermark closes the purchase's window), so the operator
    keeps the join's append-mode contract and leaves last-touch
    selection to the consumer — one ordinary batch window over the
    sink, or the batch asof operator on the joined table. The
    stream==batch equality test pins the candidate-pair contract.

    State is bounded by design: both sides carry event-time watermarks
    and the join condition is a closed time range, so Spark evicts
    click state older than ``watermark + horizon`` and purchase state
    older than ``watermark`` — the crawl-scale posture (state ∝ traffic
    inside one horizon, not history).

    Output: (key, purchase_ts, purchase_value, click_ts) — inner join
    (purchases with no horizon click produce nothing; count them by
    anti-joining the sink against the purchase log in batch).
    """
    if isinstance(clicks.schema[click_ts].dataType, T.TimestampNTZType):
        clicks = clicks.withColumn(click_ts, F.col(click_ts).cast("timestamp"))
    if isinstance(
        purchases.schema[purchase_ts].dataType, T.TimestampNTZType
    ):
        purchases = purchases.withColumn(
            purchase_ts, F.col(purchase_ts).cast("timestamp")
        )
    c = (
        clicks.withWatermark(click_ts, watermark)
        .select(
            F.col(key_col).alias("c_key"),
            F.col(click_ts).alias("click_ts"),
        )
    )
    p = (
        purchases.withWatermark(purchase_ts, watermark)
        .select(
            F.col(key_col).alias(key_col),
            F.col(purchase_ts).alias("purchase_ts"),
            F.col(value_col).alias("purchase_value"),
        )
    )
    joined = p.join(
        c,
        (F.col(key_col) == F.col("c_key"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {horizon}")
        ),
        "inner",
    )
    return joined.select(
        key_col, "purchase_ts", "purchase_value", "click_ts"
    )
