"""bloomine_spark — a PySpark-native distributed sketch / two-phase-filter engine.

A from-scratch reimplementation of the *capabilities* of ArthurVM/BlooMine
(reference at /root/reference, MIT) on idiomatic Spark: DataFrame plans,
vectorized Arrow/pandas kernels (no per-row Python), mergeable sketch UDAFs
(Bloom, HLL, count-min, KLL, t-digest), and a two-phase
Bloom-prescreen → exact/scored-verify filter over k-gram windows of
pre-tokenized sequences ``(doc_id string, tokens array<int32>, n_tok int32,
source string)``.

Not a port: the reference is a single-node C++ thread-pool engine
(src/BlooMineUtils.cpp:258-268); this package expresses the same dataflow as
shuffle-free Arrow-native ``mapInArrow`` scans plus relational ops that
Catalyst optimizes, designed for 1000-executor clusters.
"""

__version__ = "0.1.0"

from bloomine_spark.params import ScreenParams  # noqa: F401
