"""Pipeline configuration — the single place where shingle/signature config
lives (determinism requirement: BASELINE.md 'identical shingle/signature
config'). Mirrors the role of Matcher.build
(/root/reference/src/iamsystem/matcher/matcher.py:322-504): one frozen config
object compiled on the driver, shipped to executors.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # shingling
    shingle_k: int = 5            # tokens per shingle (the 'window' analogue)
    tokenizer: str = "code"       # code | english | french
    # MinHash / LSH
    num_perm: int = 128
    num_bands: int = 32           # r = num_perm // num_bands = 4
    # b=32/r=4 ⇒ P(candidate | jaccard=0.7) = 1-(1-0.7^4)^32 ≈ 0.9998 —
    # the banding curve must clear the ≥0.99 recall target AT the threshold,
    # not just above it. Sub-threshold candidates are removed by exact
    # verification, so the extra join traffic costs throughput, not precision.
    seed: int = 42
    jaccard_threshold: float = 0.7
    # boilerplate-aware signing (opt-in): when set, lines occurring in
    # >= this many DISTINCT documents (license headers, generated
    # preambles) are stripped from the text the signature kernel sees —
    # shingles, MinHash, LSH candidacy and Jaccard verification all run
    # on the stripped view, so header-sharing alone can no longer make
    # unrelated files near-duplicates. The per-row sha256 integrity
    # invariant stays bound to the RAW content (signatures.signing_view),
    # and exact-dup groups still key on the raw sha. None = off (the
    # oracle-parity default: signatures are then a pure function of raw
    # content).
    boilerplate_min_docs: "int | None" = None
    # skew handling
    band_bucket_cap: int = 500    # max docs per LSH bucket before capping
    # shuffle sizing
    shuffle_partitions: int = 32

    @property
    def rows_per_band(self) -> int:
        return self.num_perm // self.num_bands

    def lsh_probability_at_threshold(self) -> float:
        """P(candidate | jaccard = threshold) = 1 - (1 - t^r)^b."""
        t = self.jaccard_threshold
        r = self.rows_per_band
        b = self.num_bands
        return 1.0 - (1.0 - t**r) ** b
