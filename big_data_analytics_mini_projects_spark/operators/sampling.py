"""Multi-level (entity-complete) samplers (SURVEY.md §2.6; sampler_v02.py).

Both samplers (the one-pass hash-bucket sampler here, the two-pass sampler
in plans/samplingq.sample_twopass_stats) sample *entities* (user_ids), then
keep every row of each sampled entity — the property the assignment calls
multi-level sampling (Assignment 1 Description.htm:38). Determinism strategy
per SURVEY.md §7.4: the reference's ``random.shuffle`` / ``mmh3`` choices are replaced with the
cross-engine md5 hash (functions/hashing.py) so Spark, DuckDB and Python
agree on the exact sample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.hashing import hex_bucket


def sample_entities_hashbucket(
    df: DataFrame, entity_col: str, n_hex_chars: int = 1, keep: str = "0", seed: str = "hb"
) -> DataFrame:
    """One-pass streaming sampler (sampler_v02.py:63-87): keep rows whose
    entity hashes into the chosen bucket — no state, no second pass, and
    entity-complete by construction (every row of a kept user is kept).

    16**n_hex_chars buckets; keep='0', n=1 ≈ 6.25% of entities. This is the
    operator that still works when the stream never ends: the filter is
    stateless and pushes all the way down to the scan.
    """
    return df.filter(hex_bucket(F.col(entity_col), n_hex_chars, seed) == keep)
