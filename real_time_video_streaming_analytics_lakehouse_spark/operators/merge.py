"""Logical MERGE/upsert.

The reference performs MERGE via Delta (``spark-jobs/etl_framework.py:
639-647``; generic builder ``delta-lake/delta_setup.py:636-668``). This
engine implements the same semantics as a pure DataFrame composition —
``unionByName`` + source-precedence keep-one — over any two frames.
Versioned tables get the same semantics at file granularity from
:meth:`~.txlog.TxTable.merge`.

Semantics of ``merge_upsert(target, source, keys)``:
  * key matched in both  → source row wins (whenMatchedUpdateAll)
  * key only in source   → inserted          (whenNotMatchedInsertAll)
  * key only in target   → kept

Scale note: this is one shuffle on the merge keys (the union is
partition-local). ``TxTable.merge`` additionally skips files holding no
matched key; at 100 TB you'd partition the target on a coarse key
(e.g. event date) so MERGE touches only recent partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_PRECEDENCE = "_merge_precedence"


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """Upsert ``source`` into ``target`` on ``keys`` (source wins)."""
    tagged = source.withColumn(_PRECEDENCE, F.lit(1)).unionByName(
        target.withColumn(_PRECEDENCE, F.lit(0))
    )
    w = Window.partitionBy(*keys).orderBy(F.col(_PRECEDENCE).desc())
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", _PRECEDENCE)
    )
