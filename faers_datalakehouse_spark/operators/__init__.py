from .dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_64,
)
from .scd2 import add_scd2_metadata, scd2_initial_load, scd2_merge
from .similarity import cosine_neardup_pairs, topk_neighbors_bruteforce

__all__ = [
    "add_scd2_metadata",
    "cosine_neardup_pairs",
    "dedup_exact",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "scd2_initial_load",
    "scd2_merge",
    "simhash_64",
    "topk_neighbors_bruteforce",
]
