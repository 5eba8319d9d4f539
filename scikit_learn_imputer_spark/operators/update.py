"""Scatter update — the Spark replacement for positional assignment
(SURVEY.md §2 J3).

Reference parity: ``imputed.loc[list(na.index), column] = predictions``
(scikit_learn_imputer.py:272, 350) — write predicted values into the missing
cells, leaving every other cell untouched. The reference assigns one column
at a time; here every updated column rides one join.

Scale notes: expressed as a key equi-join + coalesce. The updates side is
only the rows with a missing cell (a small fraction of the table), so it
is broadcast when below the hint threshold — no shuffle of the base table.
With a large updates side, Catalyst/AQE falls back to a shuffled hash join on the id.
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
