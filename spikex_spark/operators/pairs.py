"""Stage 4 — within-block candidate-pair generation.

Reference parity: the kNN candidate lookup (spikex ``pipes/clusters.py:111``,
J7) — every key is compared against candidates sharing its block. Spark
recast: a self-equi-join of the block-membership table on the block key with
``id_a < id_b``, which shuffles once on the key and never materializes the
cross product outside a block.

Scale notes:

* Pair count per block is quadratic — that is WHY ``salt_blocks`` /
  ``cap_blocks`` run first; after salting the join key is (block_key, salt).
* ``dropDuplicates`` on (id_a, id_b) dedups pairs that co-occur in several
  blocks (title channel + LSH channel); it reuses the shuffle partitioning
  when the planner can (AQE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def candidate_pairs(blocks: DataFrame, key_col: str = "block_key",
                    id_col: str = "id", payload_cols: tuple = ("surface",),
                    salted: bool = False) -> DataFrame:
    """Self-join on the block key, ordered ids, payloads on both sides.

    Output: (id_a, id_b, block_key, <payload>_a, <payload>_b).
    """
    join_keys = [key_col] + (["salt"] if salted else [])
    left = blocks.select(
        *join_keys,
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
    )
    right = blocks.select(
        *join_keys,
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
    )
    pairs = left.join(right, join_keys).where(F.col("id_a") < F.col("id_b"))
    if salted:
        pairs = pairs.drop("salt")
    return pairs.dropDuplicates(["id_a", "id_b", key_col])
