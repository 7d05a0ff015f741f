"""Run parameters for the two-phase screen.

Defaults mirror the reference CLI (kmer=7, false_positive=1e-4, FP_sim=50.0
per the C++ binary /root/reference/src/argparse.hpp:41-46; the Python CLI
default FP_sim=35.0 at /root/reference/bloomine/parser.py:92-96 is available
as a documented variant) and the affine scoring constants
hit=10, gap_open=15, gap_extend=7 (/root/reference/src/constants.hpp:5-7).
"""

from __future__ import annotations

import math
from dataclasses import dataclass


@dataclass(frozen=True)
class ScreenParams:
    k: int = 7                    # k-gram window size (reference "kmer")
    false_positive: float = 1e-4  # Bloom FP rate p
    fp_sim: float = 50.0          # first-pass similarity % (C++ default)
    sp_error: float = 4.0         # second-pass error rate (1 error / sp_error tokens)
    hit: float = 10.0             # affine scoring: match reward
    gap_open: float = 15.0        # affine scoring: gap open penalty
    gap_extend: float = 7.0       # affine scoring: gap extension penalty

    def fp_threshold(self, n_unique_kgrams: int) -> int:
        """Minimum distinct k-gram hits for a first-pass pass.

        Reference: ``threshold = kmer_array.size() * first_pass_similarity/100``
        with C++ int truncation (/root/reference/src/BlooMineUtils.cpp:91).
        """
        return int(n_unique_kgrams * self.fp_sim / 100.0)

    def gap_threshold(self) -> int:
        """Gap run length at which a subalignment is split.

        Reference: ``ceil(((hit*k)-go)/ge)`` (/root/reference/src/FQread.hpp:325).
        """
        return math.ceil((self.hit * self.k - self.gap_open) / self.gap_extend)

    def mst(self, n_unique_kgrams: int) -> float:
        """Minimum score threshold for the second-pass (scored) verify.

        Reference ``minscore`` (/root/reference/src/SPscreenutils.hpp:100-115):
        obs_match = k+er-1; obs_error = obs_match/er; obs_windows = |kset|/obs_match;
        H = |kset|*hit; mst = H - (obs_windows*gap_open + neg*(obs_error*(obs_windows-1))).
        """
        er = self.sp_error
        obs_match = self.k + er - 1.0
        obs_error = obs_match / er
        obs_windows = n_unique_kgrams / obs_match
        max_score = n_unique_kgrams * self.hit
        return max_score - (
            (obs_windows * self.gap_open)
            + (self.gap_extend * (obs_error * (obs_windows - 1.0)))
        )


DEFAULT_PARAMS = ScreenParams()
