"""Report sinks in the reference's own output formats.

- ``render_subpop_report`` reproduces the MOI text report byte format
  (/root/reference/bloomine/moi.py:131-161: header, ``Sequence variants:``
  block of ``<seq>\\t<count>`` lines, ``Length variants:`` block).
- ``flank_tsv_row`` formats one combined flank-log row
  (``operators.cascade.flank_pair_scores``) in the reference
  ``<prefix>_combined_flank_scores.tsv`` format; ``iter_flank_scores_tsv``
  streams the whole TSV, and the grid CLI (``jobs/run_grid.py``) writes
  the same rows behind a ``probe_set`` column.
- ``polyfamily_summary_from_counts`` reproduces the polyfamily JSON summary
  (/root/reference/bloomine/run.py:100-125: ``{probe_id: [[seq, count],
  ...]}`` sorted by count descending) from collected variant counts.

All of them format results the cluster already reduced; nothing here
touches row data.
"""

from __future__ import annotations

import datetime
import json
from typing import Callable, Sequence

from pyspark.sql import DataFrame


def _default_detok(tokens: Sequence[int]) -> str:
    return " ".join(str(t) for t in tokens)


def render_subpop_report(
    variants: DataFrame,
    length_variants: DataFrame,
    fastq: str,
    flanks_fasta: str,
    detokenize: Callable[[Sequence[int]], str] = _default_detok,
    timestamp: datetime.datetime | None = None,
) -> str:
    """Text report from ``variant_counts`` / ``length_variant_counts``
    output, in the exact reference format (moi.py:146-160)."""
    ts = (timestamp or datetime.datetime.now()).strftime("%d-%m-%y %H:%M:%S")
    lines = [
        f"Subpop report generated {ts}",
        "",
        f"fastq:\t{fastq}",
        f"flanks_fasta flanks:\t{flanks_fasta}",
        "",
        "",
        "Sequence variants:",
    ]
    for r in variants.collect():
        lines.append(f"{detokenize(r['extracted'])}\t{r['count']}")
    lines.append("")
    lines.append("Length variants:")
    for r in length_variants.collect():
        lines.append(f"{r['variant_len']}\t{r['count']}")
    lines.append("")
    return "\n".join(lines) + "\n"


FLANK_TSV_HEADER = "\t".join(
    [
        "read_id",
        "flank_1_score",
        "flank_1_RC_score",
        "flank_2_score",
        "flank_2_RC_score",
        "threshold",
        "pass",
    ]
)


def flank_tsv_row(r) -> str:
    """One combined flank-log row (doc_id, f1_score, f1_rc_score, f2_score,
    f2_rc_score, threshold, pass) as a reference TSV line
    (reference bloomine/BloomineRunner.py:240-274): missing scores
    as EMPTY fields, integer scores, threshold via Python float repr, pass
    as 0/1."""

    def cell(v) -> str:
        return "" if v is None else str(int(v))

    return "\t".join([
        str(r["doc_id"]),
        cell(r["f1_score"]),
        cell(r["f1_rc_score"]),
        cell(r["f2_score"]),
        cell(r["f2_rc_score"]),
        str(float(r["threshold"])),
        str(int(r["pass"])),
    ])


def iter_flank_scores_tsv(combined: DataFrame):
    """Yield the combined flank-scores TSV lines (no trailing newline): the
    header row, then one ``flank_tsv_row`` per read, read_ids ascending.

    Streams via ``toLocalIterator`` so the driver never holds the whole log
    (the sort happens cluster-side; ASCII read_ids order identically under
    Spark's UTF8-binary and the reference's Python code-point sort).
    """
    yield FLANK_TSV_HEADER
    for r in combined.orderBy("doc_id").toLocalIterator():
        yield flank_tsv_row(r)


def render_flank_scores_tsv(combined: DataFrame) -> str:
    """Whole combined TSV as one string (small post-aggregation logs)."""
    return "\n".join(iter_flank_scores_tsv(combined)) + "\n"


def write_flank_scores_tsv(combined: DataFrame, path: str) -> None:
    """Stream the combined TSV to a local/NFS ``path`` (single-file sink,
    like the reference's ``<prefix>_combined_flank_scores.tsv``)."""
    with open(path, "w") as fh:
        for line in iter_flank_scores_tsv(combined):
            fh.write(line + "\n")


def polyfamily_summary_from_counts(
    counts,
    detokenize: Callable[[Sequence[int]], str] = _default_detok,
) -> str:
    """{probe_id: [[variant, count], ...]} sorted by count desc
    (run.py:117-121's ``probe_json`` layout) from collected ``(probe_id,
    extracted, count)`` triples — a grid run collects ONE grouped
    variant-count frame and renders every per-sample / per-probe blob
    locally without further Spark jobs."""
    per_probe: dict[str, list] = {}
    for probe_id, extracted, count in counts:
        per_probe.setdefault(probe_id, []).append(
            (detokenize(extracted), int(count))
        )
    out = {
        probe_id: [
            [s, c] for s, c in sorted(pairs, key=lambda x: (-x[1], x[0]))
        ]
        for probe_id, pairs in sorted(per_probe.items())
    }
    return json.dumps(out, indent=2)
