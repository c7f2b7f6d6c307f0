"""Explicit skew handling for keyed aggregations (J5 — north_rule:
"salted repartitioning on repo hash").

Where it applies: extraction is a per-file map (no key shuffle — see
plans/pipeline.build_mentions), but any per-REPO aggregation shuffles on
`repo`, and the corpus fixture plants a mega-repo holding ~40% of all rows —
one reducer would receive 40% of the data. Salting splits the hot key's rows
across `n_salts` partial groups (map-side uniform), aggregates partially,
then re-aggregates the (tiny) partials — the classic two-phase pattern AQE
skew-join splitting cannot apply to aggregations.

All deterministic: the salt is `pmod(xxhash64(cols...), n_salts)` over
stable row-identity columns, never rand().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_agg(df: DataFrame, key: str, value: str, salt_cols: list[str],
               n_salts: int = 16) -> DataFrame:
    """Two-phase sum/count/min/max over a skewed key (avg derived exactly)."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_cols]), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(
            F.count("*").alias("_n"),
            F.sum(value).alias("_sum"),
            F.min(value).alias("_min"),
            F.max(value).alias("_max"),
        )
    )
    return partial.groupBy(key).agg(
        F.sum("_n").alias("n"),
        F.round(F.sum("_sum"), 2).alias("sum_value"),
        F.min("_min").alias("min_value"),
        F.max("_max").alias("max_value"),
    )
