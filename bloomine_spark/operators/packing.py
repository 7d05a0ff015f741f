"""Training-batch assembly operators: sequence packing and deterministic
corpus splitting — the two steps between a curated corpus and a
pretraining data loader.

Both are pure Catalyst algebra (no Python in the plan) and fully
deterministic, so the DuckDB oracle hash-checks their exact output and a
re-run of a 100 TB job reproduces the same batches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["bestfit_pack", "chunk_token_windows", "hash_split", "pack_context_windows"]


def pack_context_windows(
    docs: DataFrame,
    window_tokens: int,
    group_col: str = "source",
    order_col: str = "doc_id",
    ntok_col: str = "n_tok",
    shards: int = 1,
) -> DataFrame:
    """Concat-and-chunk sequence packing: per group, documents are laid
    end-to-end in `order_col` order and the token stream is cut every
    `window_tokens` tokens — the standard LLM-pretraining packing (every
    context window is exactly full; documents crossing a boundary are
    split across the adjacent windows).

    Returns one row per (group, chunk_id) with
      n_docs        number of documents contributing ≥1 token
      n_tokens      tokens in the chunk (== window_tokens except the
                    group's final partial chunk)
      n_split_docs  documents that cross INTO this chunk from the
                    previous one (the packing's fragmentation cost)

    Plan shape (100 TB framing): one cumulative-sum window per group
    (sort-based, the same cost class as any ordered scan — Spark range-
    partitions by the window key so groups parallelize), then a map-side
    explode of each doc into the 1-2+ chunks it spans (a doc spans
    ceil(n_tok / window) + 1 chunks at most) and one narrow
    (group, chunk_id) aggregation. No driver-side state, no Python.

    ``shards > 1`` is the scale path when there are FEW groups (window
    parallelism is bounded by the number of distinct window-partition
    keys): each group is split into `shards` independent token streams
    by a deterministic md5 bucket of ``order_col`` — each shard packs on
    its own, so parallelism becomes groups × shards at the cost of at
    most one partial chunk PER SHARD instead of per group (the standard
    trade in LLM batch assembly: with billions of tokens per shard the
    fullness loss is ≤ window/shard_tokens ≈ 0). Output gains a `shard`
    column; chunk ids remain dense 0..last within (group, shard).
    """
    L = window_tokens
    keys = [group_col]
    base = docs.select(
        F.col(group_col),
        F.col(order_col),
        F.col(ntok_col).cast("long").alias("_n"),
    ).filter(F.col("_n") > 0)
    if shards > 1:
        keys.append("shard")
        base = base.withColumn(
            "shard",
            (
                F.conv(
                    F.substring(
                        F.md5(F.col(order_col).cast("string")), 1, 8
                    ),
                    16,
                    10,
                ).cast("long")
                % shards
            ),
        )
    w = Window.partitionBy(*keys).orderBy(order_col)
    spans = (
        base.withColumn("_end", F.sum("_n").over(w))
        .withColumn("_start", F.col("_end") - F.col("_n"))
        .withColumn("_c0", F.floor(F.col("_start") / L))
        .withColumn("_c1", F.floor((F.col("_end") - 1) / L))
    )
    per_chunk = spans.select(
        *keys,
        "_start",
        "_end",
        "_c0",
        F.explode(F.sequence(F.col("_c0"), F.col("_c1"))).alias("chunk_id"),
    ).select(
        *keys,
        "chunk_id",
        F.greatest(F.col("_start"), F.col("chunk_id") * L).alias("_s"),
        F.least(F.col("_end"), (F.col("chunk_id") + 1) * L).alias("_e"),
        (F.col("chunk_id") > F.col("_c0")).cast("int").alias("_split_in"),
    )
    return per_chunk.groupBy(*keys, "chunk_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("_e") - F.col("_s")).cast("long").alias("n_tokens"),
        F.sum("_split_in").cast("long").alias("n_split_docs"),
    )


def hash_split(
    docs: DataFrame,
    key_col: str = "doc_id",
    splits: tuple[tuple[str, int], ...] = (
        ("train", 98),
        ("val", 1),
        ("test", 1),
    ),
    buckets: int = 100,
) -> DataFrame:
    """Deterministic corpus split: bucket = md5(key) mod `buckets`,
    assigned to named splits by cumulative bucket ranges (98/1/1 by
    default). The assignment is a pure function of the key — stable
    across runs, partitionings, engines, and corpus growth (a doc never
    migrates between splits when new docs arrive), which is what makes
    train/test contamination auditable. Appends a `split` column.

    The md5-bucket arithmetic is the same engine-portable form as
    sketch/relational.py, so the oracle reproduces every assignment.
    """
    h = F.conv(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8), 16, 10
    ).cast("long") % F.lit(buckets)
    expr = None
    lo = 0
    for name, width in splits:
        cond = h < F.lit(lo + width)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
        lo += width
    if lo != buckets:
        raise ValueError(f"split widths sum to {lo}, expected {buckets}")
    return docs.withColumn("split", expr)


def bestfit_pack(
    docs: DataFrame,
    window_tokens: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    ntok_col: str = "n_tok",
    segment_rows: int = 100_000,
) -> DataFrame:
    """Best-Fit-Decreasing sequence packing (Ding et al. 2024, "Fewer
    Truncations Improve Language Modeling"): instead of concatenating
    and cutting every ``window_tokens`` (which truncates ~every doc that
    straddles a boundary — see ``pack_context_windows``'s n_split_docs),
    treat packing as bin packing. Documents longer than the window are
    pre-split into window-sized pieces + remainder (the paper's only
    truncations); everything else is placed whole by BFD: sort pieces by
    length descending, place each into the FULLEST bin it fits in
    (ties → lowest bin id), else open a new bin. ZERO documents cross
    bin boundaries, at a small fill-ratio cost vs concat-and-chunk.

    BFD is inherently sequential, so scale comes from sharding — the
    paper packs per data shard. Here each group is cut into
    deterministic md5 SEGMENTS of ≈``segment_rows`` docs (a pure
    function of ids: reruns and repartitions agree), and one Arrow
    kernel packs each segment: kernel memory is O(segment), packing
    quality is unaffected asymptotically (each segment is thousands of
    windows). The only shuffle is the (group, segment) grouping of
    (id, n_tok) pairs — token text never moves.

    Returns one row per PIECE: (group, segment, bin_id, id, piece,
    piece_tok, bin_fill) where ``bin_id`` numbers bins within the
    segment in creation order, ``piece`` numbers a split doc's chunks,
    and ``bin_fill`` is the bin's final token total (≤ window_tokens).
    Deterministic end-to-end: same input ⇒ identical bins on any
    cluster/partitioning.
    """
    import pandas as pd
    from pyspark.sql import types as T

    # deterministic segmenting: docs-per-group unknown a priori, so the
    # segment count derives from the group's own size via one tiny
    # per-group count (broadcast back) — md5 keeps it engine/rerun-stable
    sizes = docs.groupBy(group_col).agg(
        F.count("*").cast("long").alias("_gn")
    )
    base = docs.select(
        F.col(group_col).alias("_g"),
        F.col(id_col).alias("_id"),
        F.col(ntok_col).cast("long").alias("_n"),
    ).join(F.broadcast(sizes.withColumnRenamed(group_col, "_g")), "_g")
    nseg = F.greatest(
        F.lit(1),
        F.ceil(F.col("_gn") / F.lit(int(segment_rows))).cast("long"),
    )
    seg = F.pmod(
        F.conv(F.substring(F.md5(F.col("_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        nseg,
    )
    base = base.select("_g", F.col("_id"), "_n", seg.alias("_seg"))

    schema = T.StructType(
        [
            T.StructField("group", T.StringType()),
            T.StructField("segment", T.LongType()),
            T.StructField("bin_id", T.LongType()),
            T.StructField("id", T.LongType()),
            T.StructField("piece", T.LongType()),
            T.StructField("piece_tok", T.LongType()),
            T.StructField("bin_fill", T.LongType()),
        ]
    )
    W = int(window_tokens)

    def kernel(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        from bisect import bisect_left, insort

        g, s = key
        # Arrow arrival order depends on partitioning — sort by id so
        # full-window bin numbering (and thus ALL bin ids) is a pure
        # function of the segment's content
        order = pdf["_id"].to_numpy().argsort(kind="stable")
        ids = pdf["_id"].to_numpy()[order]
        ns = pdf["_n"].to_numpy()[order]
        # pre-split over-long docs into full windows + remainder
        pieces: list[tuple[int, int, int]] = []  # (tok, id, piece_no)
        full_bins: list[tuple[int, int]] = []    # (id, piece_no) == W
        for i in range(len(ids)):
            n, d = int(ns[i]), int(ids[i])
            if n <= 0:
                continue
            p = 0
            while n > W:
                full_bins.append((d, p))
                n -= W
                p += 1
            pieces.append((n, d, p))
        # BFD: length desc, id asc for determinism
        pieces.sort(key=lambda t: (-t[0], t[1], t[2]))
        # bins kept sorted by (remaining, bin_id); best fit = smallest
        # remaining ≥ size (ties → the list's leftmost = lowest bin_id)
        open_bins: list[list[int]] = []  # [remaining, bin_id], sorted
        nbins = len(full_bins)
        placed: dict[int, list[tuple[int, int, int]]] = {}
        fills: dict[int, int] = {}
        for b, (d, p) in enumerate(full_bins):
            placed[b] = [(d, p, W)]
            fills[b] = W
        for size, d, p in pieces:
            j = bisect_left(open_bins, [size, -1])
            if j < len(open_bins):
                rem, b = open_bins.pop(j)
                rem -= size
            else:
                rem, b = W - size, nbins
                nbins += 1
                placed[b] = []
                fills[b] = 0
            placed[b].append((d, p, size))
            fills[b] += size
            if rem > 0:
                insort(open_bins, [rem, b])
        rows = {
            "group": [], "segment": [], "bin_id": [], "id": [],
            "piece": [], "piece_tok": [], "bin_fill": [],
        }
        for b in range(nbins):
            for d, p, size in placed[b]:
                rows["group"].append(str(g))
                rows["segment"].append(int(s))
                rows["bin_id"].append(b)
                rows["id"].append(d)
                rows["piece"].append(p)
                rows["piece_tok"].append(size)
                rows["bin_fill"].append(fills[b])
        return pd.DataFrame(rows)

    return base.groupBy("_g", "_seg").applyInPandas(kernel, schema=schema)


def chunk_token_windows(
    docs: DataFrame,
    window: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document overlapping token-window chunking — the
    RAG/embedding prep step (each chunk embeds independently; the
    overlap keeps boundary context), the per-doc sibling of
    :func:`pack_context_windows` (which concatenates ACROSS docs for
    training batches).

    Chunk k covers tokens ``[k·stride, k·stride + window)`` with
    ``stride = window − overlap``; a tail chunk is emitted only when it
    extends past the previous chunk's end (a tail fully contained in
    its predecessor would be a duplicate). The chunk set is closed-form
    in ``n_tokens`` — no sequential fill — so the whole operator is one
    zero-exchange codegen explode and the DuckDB oracle replays it from
    the same arithmetic. Docs with no tokens emit no chunks.

    Returns (id, chunk_id, start_tok, n_tokens, text).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if not 0 <= overlap < window:
        raise ValueError("overlap must be in [0, window)")
    stride = window - overlap
    words = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != F.lit("")
    )
    n = F.size(words)
    # number of chunks: 1 + ceil((n - window)/stride) when n > window
    n_chunks = F.when(
        n > window,
        F.lit(1) + F.ceil((n - F.lit(window)) / F.lit(stride)).cast("int"),
    ).otherwise(F.lit(1))
    out = (
        docs.select(
            F.col(id_col),
            words.alias("_w"),
            n.alias("_n"),
            n_chunks.alias("_k"),
        )
        .filter(F.col("_n") > 0)
        .select(
            id_col,
            "_w",
            "_n",
            F.explode(
                F.sequence(F.lit(0), F.col("_k") - 1)
            ).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            (F.col("chunk_id") * stride).alias("start_tok"),
            F.least(
                F.lit(window), F.col("_n") - F.col("chunk_id") * stride
            ).cast("int").alias("n_tokens"),
            F.concat_ws(
                " ",
                F.slice(
                    "_w", F.col("chunk_id") * stride + 1, F.lit(window)
                ),
            ).alias("text"),
        )
    )
    return out
