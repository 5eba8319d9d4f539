"""Scatter update — the Spark replacement for positional assignment
(SURVEY.md §2 J3).

Reference parity: ``imputed.loc[list(na.index), column] = predictions``
(scikit_learn_imputer.py:272, 350) — write predicted values into the missing
cells, leaving every other cell untouched. The reference assigns one column
at a time; here every updated column rides one join.

Scale notes: expressed as a key equi-join + coalesce. The updates side is
always broadcast: ``F.broadcast`` is a join hint that Spark honours
whatever the side's size, so there is no fallback to a shuffled join.
That is the intended trade, because the updates side holds only the rows
with a missing cell (a small fraction of the table) and broadcasting it
avoids a shuffle of the base table. Without the hint the optimizer would
plan a SortMergeJoin whenever its size estimate of the updates side
exceeds the broadcast threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scatter_update(
    base: DataFrame, updates: DataFrame, id_col: str, cols: list[str]
) -> DataFrame:
    """Return ``base`` with each column in ``cols`` replaced by its value in
    ``updates`` on rows whose ``id_col`` appears there, all in ONE join;
    NULL-only semantics come from coalesce order: base value wins when
    present."""
    upd = updates.select(
        F.col(id_col), *[F.col(c).alias(f"__upd_{c}") for c in cols]
    )
    joined = base.join(F.broadcast(upd), on=id_col, how="left")
    return joined.select(
        *[
            F.coalesce(F.col(c), F.col(f"__upd_{c}")).alias(c)
            if c in cols
            else F.col(c)
            for c in base.columns
        ]
    )
