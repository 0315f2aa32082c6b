"""Pipeline configuration.

Knob names mirror the reference constructor (minHash.py:106-111) where a
direct counterpart exists; dedup-pipeline-only knobs are new.
"""

from __future__ import annotations

from dataclasses import dataclass

#: default largest id-set bound that broadcasts in the semi-joins of
#: webdedup.joins; above it the join shuffles instead of OOMing
BROADCAST_ID_LIMIT = 2_000_000


@dataclass(frozen=True)
class DedupConfig:
    # --- signature family (reference: minHash.py:106-111 defaults noted) ---
    number_of_hash_functions: int = 128   # reference default 400 (H)
    rows_per_band: int = 4                # reference `shingle_size` (chained fold)
    # bands = number_of_hash_functions // rows_per_band
    shingle_size: int = 3                 # word n-gram width for text shingling
    max_bin_size: int = 2000              # hot-bucket kill threshold (reference default 50
                                          # on signature buckets; ours applies to LSH band buckets)
    # --- dedup pipeline ---
    jaccard_threshold: float = 0.8        # verify gate for near-dup pairs
    simhash_hamming_threshold: int = 3    # SimHash near-dup gate (bits)
    use_simhash: bool = True
    use_substring_pass: bool = True
    substring_k: int = 64                 # Rabin k-gram bytes
    substring_window: int = 96            # winnowing window; guarantee: any shared
                                          # run >= window+k-1 = 159 bytes fingerprints
                                          # (whole-page embeds; ~3x sparser than k=48/w=32)
    broadcast_id_limit: int = BROADCAST_ID_LIMIT
    # --- execution ---
    shuffle_partitions: int = 32

    @property
    def num_bands(self) -> int:
        if self.number_of_hash_functions % self.rows_per_band != 0:
            raise ValueError("number_of_hash_functions must be divisible by rows_per_band")
        return self.number_of_hash_functions // self.rows_per_band

