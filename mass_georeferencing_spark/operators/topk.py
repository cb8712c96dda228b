"""Top-k per group (W1) and ranked display sorts (W3/W4).

Reference: ``candidates.nlargest(50, ['score1','score2','score_state','no_features'])``
per record group (batch_georeferencing/functions.py:297-300). The kNN top-1
(W2, ``ORDER BY ST_Distance LIMIT 1``, functions.py:170-171) is
the kNN join with ``k=1`` (knn.py).

Scale notes: ``row_number`` over a partitioned window is a single shuffle on the
partition key with in-partition sort; Spark's window TopK pushes a per-partition
limit (rank limit pushdown) so only k rows per key survive the sort buffer. The
explicit ``uid`` tie-break makes results deterministic (pandas ``nlargest`` is
input-order-stable — not reproducible under parallelism; pinned deviation,
SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

TOP_K = 50  # batch_georeferencing/functions.py:298


def topk_per_group(
    df: DataFrame,
    partition_cols: list[str],
    order_cols: list[str],
    k: int = TOP_K,
    tiebreak_col: str | None = "uid",
    rank_col: str | None = None,
) -> DataFrame:
    """Keep the top-k rows per partition, ordered desc by ``order_cols`` then
    asc by the deterministic tie-break."""
    order = [F.col(c).desc_nulls_last() for c in order_cols]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).asc())
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    out = df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") <= k)
    if rank_col:
        return out.withColumnRenamed("_rn", rank_col)
    return out.drop("_rn")


def ranked_display_order(
    df: DataFrame,
    priority: list[str],
    source_col: str = "data_source",
    score_col: str = "score",
) -> DataFrame:
    """W3: UI ranking — source-priority list position, then score desc
    (ui/mass_georef_shiny/app.R:899-901)."""
    prio = F.array_position(F.array(*[F.lit(p) for p in priority]), F.col(source_col))
    rank = F.when(prio == 0, F.lit(len(priority) + 1)).otherwise(prio)
    return df.orderBy(rank.asc(), F.col(score_col).desc())
