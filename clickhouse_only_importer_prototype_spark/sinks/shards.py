"""Training-shard assignment: a deterministic, balanced doc→shard map.

Trainers consume corpora as N equal shards with a stable doc→shard
assignment (so a resumed/retried write never moves a document, and a
data-parallel reader can map shard i → worker i without a manifest
lookup). Spark's default write gives neither: round-robin task
assignment varies with partitioning history, and file counts follow
the previous stage's partition count.

Assignment here is the house md5 idiom (same determinism contract as
operators/sampling.hash_split): shard = md5-hash(salt:id) mod n_shards
— uniform by construction, stable across runs, engines, and retries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def shard_assignment(
    df: DataFrame,
    n_shards: int = 64,
    id_col: str = "doc_id",
    salt: str = "shard-v1",
) -> DataFrame:
    """The assignment alone (id → shard), for auditing a planned layout
    without writing it."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(salt), F.lit(":"), F.col(id_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return df.select(
        F.col(id_col),
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
    )
