"""Reshaping operators (SURVEY.md §2.4 A10).

The reference builds its heatmap matrix in Python (app.py:1153-1184);
``api.heatmap_matrix`` densifies the (grupo × periodo) grid, averages
it in one lazy plan and pivots it wide with ``pivot_matrix``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pivot_matrix(
    long_df: DataFrame,
    row_key: str,
    col_key: str,
    value_col: str,
    col_values: Sequence[str],
) -> DataFrame:
    """A10 — long→wide pivot (reference does this in Python,
    app.py:1153-1184). Explicit ``col_values`` avoids the extra
    distinct-values job Spark otherwise runs — mandatory at scale.
    """
    return (
        long_df.groupBy(row_key)
        .pivot(col_key, list(col_values))
        .agg(F.first(value_col))
    )
