"""Corpus collocation analytics: PMI / log-likelihood-ratio bigram
collocations, word co-occurrence edges and log-odds keyness.

``collocation_scores`` reduces the corpus to its BIGRAM-TYPE relation
first (one scan, one window pass of ``lead``), then computes every
statistic from that relation alone — corpus scale never re-enters the
plan: pointwise mutual information plus Dunning's (1993)
log-likelihood ratio G² over the 2×2 contingency each bigram induces.
All four margins (c12, c1·, c·2, N) derive from the one bigram-count
relation: c1/c2 are vocab-sized re-aggregations that broadcast back, N
is a 1-row scalar. Selection is the engine-portable rank
``(round(llr, 6) DESC, w1, w2)``.

The bigram-type relation is vocab²-bounded (in practice: the distinct
adjacent pairs actually occurring), which is the standing convention of
the LM operators in ``textops.py`` — word TEXT rides only type-level
relations, never occurrence-level shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "collocation_scores",
    "cooccurrence_edges",
    "distinctive_terms_per_source",
]


def _bigram_counts(docs: DataFrame, text_col: str) -> DataFrame:
    """(w1, w2, c12) — adjacent-pair type counts; one scan + one window."""
    win = Window.partitionBy("doc_id").orderBy("pos")
    pairs = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w1")
    ).withColumn("w2", F.lead("w1").over(win))
    return (
        pairs.filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )


def collocation_scores(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top-``top_k`` bigram collocations by Dunning G², with PMI
    alongside: ``(w1, w2, c12, c1, c2, pmi, llr, rank)``.

    G² = 2·Σ kᵢⱼ·ln(kᵢⱼ/Eᵢⱼ) over the bigram's 2×2 contingency
    (k11=c12, k12=c1−c12, k21=c2−c12, k22=N−c1−c2+c12; E = row·col/N),
    zero terms dropping out (lim k→0 of k·ln k = 0). PMI =
    ln(c12·N/(c1·c2)). Every ln stays in whole-stage codegen; the only
    joins are the vocab-sized margins (broadcast) and the 1-row N scalar.
    """
    big = _bigram_counts(docs, text_col)
    c1 = big.groupBy("w1").agg(F.sum("c12").alias("c1"))
    c2 = big.groupBy("w2").agg(F.sum("c12").alias("c2"))
    n = big.agg(F.sum("c12").cast("double").alias("N"))
    j = (
        big.join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n))
    )
    k11 = F.col("c12").cast("double")
    k12 = (F.col("c1") - F.col("c12")).cast("double")
    k21 = (F.col("c2") - F.col("c12")).cast("double")
    k22 = F.col("N") - F.col("c1") - F.col("c2") + F.col("c12")
    r1, r2 = F.col("c1").cast("double"), F.col("N") - F.col("c1")
    s1, s2 = F.col("c2").cast("double"), F.col("N") - F.col("c2")

    def term(k, row, col):
        return F.when(k > 0, k * F.log(k * F.col("N") / (row * col))).otherwise(
            F.lit(0.0)
        )

    scored = j.select(
        "w1",
        "w2",
        "c12",
        "c1",
        "c2",
        F.log(k11 * F.col("N") / (r1 * s1)).alias("pmi"),
        (
            2.0
            * (
                term(k11, r1, s1)
                + term(k12, r1, s2)
                + term(k21, r2, s1)
                + term(k22, r2, s2)
            )
        ).alias("llr"),
    ).filter(F.col("c12") >= int(min_count))
    w = Window.orderBy(
        F.round(F.col("llr"), 6).desc(), F.col("w1"), F.col("w2")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
    )


def cooccurrence_edges(
    docs: DataFrame, text_col: str = "text", window: int = 2
) -> DataFrame:
    """Distinct undirected word co-occurrence edges within ``window``
    token positions, as a directed (src, dst) list with both directions.
    Built from ``window`` lead offsets over one positional pass; no
    positional self-join ever happens."""
    if window < 1:
        raise ValueError("window must be >= 1")
    win = Window.partitionBy("doc_id").orderBy("pos")
    base = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "w")
    )
    cols = [F.lead("w", off).over(win).alias(f"_l{off}") for off in range(1, window + 1)]
    wide = base.select("w", *cols)
    pairs = None
    for off in range(1, window + 1):
        p = wide.select(F.col("w").alias("a"), F.col(f"_l{off}").alias("b"))
        pairs = p if pairs is None else pairs.unionByName(p)
    pairs = pairs.filter(F.col("b").isNotNull() & (F.col("a") != F.col("b")))
    return (
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(
            pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
        .distinct()
    )


def distinctive_terms_per_source(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    prior_mass: float = 10.0,
    top_k: int = 10,
) -> DataFrame:
    """Distinctive terms per group by log-odds with an informative
    Dirichlet prior (Monroe, Colaresi & Quinn 2008, "Fightin' Words") —
    the keyness statistic corpus audits use to answer "what words
    characterize source X against the rest": ``(group, word, c_in,
    c_out, z, rank)`` for the ``top_k`` words per group by
    ``(round(z, 6) DESC, word)``.

    For word w in group g vs the rest of the corpus, with prior
    ``α_w = prior_mass · c_w / N`` (corpus-rate-proportional, total
    mass ``prior_mass`` on each side):

        δ = ln((y₁+α_w)/(n₁+a₀−y₁−α_w)) − ln((y₂+α_w)/(n₂+a₀−y₂−α_w))
        z = δ / sqrt(1/(y₁+α_w) + 1/(y₂+α_w))

    The prior shrinks rare-word log-odds toward 0, so the ranking
    surfaces genuinely over-represented vocabulary rather than hapaxes
    — the property raw PMI-style keyness lacks.

    Plan: ONE corpus scan → (group, word) counts (the only wide
    shuffle); word margins and per-group totals are re-aggregations of
    that relation (vocab-/group-sized, broadcast back); N is a 1-row
    scalar; the rank window sees only per-group vocab. Every float is
    a pinned double sequence over exact integer counts.
    """
    a0 = float(prior_mass)
    tok = docs.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    swc = tok.groupBy("grp", "word").agg(F.count("*").alias("y1"))
    wc = swc.groupBy("word").agg(F.sum("y1").alias("cw"))
    ng = swc.groupBy("grp").agg(F.sum("y1").alias("n1"))
    nn = swc.agg(F.sum("y1").cast("double").alias("N"))
    j = (
        swc.join(F.broadcast(wc), "word")
        .join(F.broadcast(ng), "grp")
        .crossJoin(F.broadcast(nn))
    )
    aw = F.lit(a0) * F.col("cw").cast("double") / F.col("N")
    y1 = F.col("y1").cast("double")
    y2 = (F.col("cw") - F.col("y1")).cast("double")
    n1 = F.col("n1").cast("double")
    n2 = F.col("N") - F.col("n1")
    delta = F.log(
        (y1 + aw) / (n1 + F.lit(a0) - y1 - aw)
    ) - F.log((y2 + aw) / (n2 + F.lit(a0) - y2 - aw))
    z = delta / F.sqrt(1.0 / (y1 + aw) + 1.0 / (y2 + aw))
    scored = j.select(
        F.col("grp").alias(group_col),
        "word",
        F.col("y1").alias("c_in"),
        (F.col("cw") - F.col("y1")).alias("c_out"),
        z.alias("z"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.round(F.col("z"), 6).desc(), F.col("word")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(top_k))
        .withColumn("rank", F.col("rank").cast("long"))
    )
