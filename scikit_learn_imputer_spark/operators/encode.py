"""Categorical encoding operators (SURVEY.md §2 E1, E2, E3).

Reference parity:
- ``one_hot`` ↔ ``pd.get_dummies`` (scikit_learn_imputer.py:165): each
  categorical column becomes ``<col>_<value>`` 0/1 columns, value-sorted.
- ``label_encode``/``label_decode`` ↔ sklearn LabelEncoder fit on observed
  values (scikit_learn_imputer.py:227-228, 269-270) — classes in
  LEXICOGRAPHIC order (determinism fidelity, SURVEY.md §7.3 #2).

Scale notes: category domains are bounded by the engine's
``class_threshold`` cardinality gate (default 30), so collecting the
distinct values is a tiny exact aggregate, and the encode itself is a pure
projection — no shuffle, stays inside whole-stage codegen. Flat named 0/1
columns (not MLlib's sparse vector) keep the result oracle-checkable and
reference-shaped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


DEFAULT_MAX_VALUES = 10_000


def distinct_values(df: DataFrame, col: str, max_values: int | None = None) -> list:
    """Sorted distinct non-null values of a column (exact, one agg).

    ``limit(max_values + 1)`` bounds both the job output and driver
    memory: a column whose cardinality exceeds the cap raises instead of
    collecting unboundedly; within the cap the limit is never reached
    and the collect is exact. The imputer passes its class_threshold as
    the cap, so this one collect is also its cardinality gate; the
    default cap protects STANDALONE one_hot/label_encode calls on
    high-cardinality columns."""
    if max_values is None:
        max_values = DEFAULT_MAX_VALUES
    rows = (
        df.select(col)
        .filter(F.col(col).isNotNull())
        .distinct()
        .limit(max_values + 1)
        .collect()
    )
    if len(rows) > max_values:
        raise ValueError(
            f"column '{col}' has more than {max_values} distinct values; "
            f"pass an explicit value/label list or raise max_values"
        )
    return sorted(r[0] for r in rows)


def one_hot(
    df: DataFrame,
    cols: list[str],
    values: dict[str, list] | None = None,
) -> DataFrame:
    """pandas-get_dummies-shaped one-hot: for each col in ``cols``, append
    ``<col>_<value>`` 0/1 ints in value-sorted order. NULL encodes to all
    zeros (matches get_dummies' dummy_na=False).

    ``values`` pins the category domain per column (determinism across
    datasets / train-serve skew); missing entries are collected exactly.
    """
    values = dict(values or {})
    for c in cols:
        if c not in values:
            values[c] = distinct_values(df, c)
    out: list[Column] = []
    seen: set[str] = set()
    for c in df.columns:
        if c in cols:
            continue
        out.append(F.col(c))
        seen.add(c)
    for c in cols:
        for v in values[c]:
            name = dummy_name(c, v)
            # Sanitizing can collide distinct categories ('a b' vs 'a_b',
            # 1.0 vs '1_0') into one name; pandas keeps them distinct.
            # Deterministic de-dup: append _2, _3, … in value-sorted order.
            if name in seen:
                i = 2
                while f"{name}_{i}" in seen:
                    i += 1
                name = f"{name}_{i}"
            seen.add(name)
            out.append(
                F.when(F.col(c) == F.lit(v), 1).otherwise(0).alias(name)
            )
    return df.select(*out)


def dummy_name(col: str, value) -> str:
    """Dummy column name ``<col>_<value>`` with characters Spark's
    unquoted column grammar can't carry (dots, spaces, …) mapped to ``_``
    — e.g. a numeric categorical value 0.0 becomes ``D_0_0``, where pandas
    would emit ``D_0.0``. Collisions between sanitized names are resolved
    in ``one_hot`` with a deterministic numeric suffix."""
    import re

    return f"{col}_" + re.sub(r"[^0-9A-Za-z_]", "_", str(value))


def label_encode(
    df: DataFrame, col: str, labels: list | None = None, out_col: str | None = None
) -> tuple[DataFrame, list]:
    """Encode a categorical column to 0-based codes in lexicographic label
    order (sklearn LabelEncoder semantics). NULL stays NULL.

    Implemented as ``array_position`` against a literal label array — a pure
    projection (no join, no shuffle); the label list is bounded by the
    cardinality gate.
    """
    labels = labels if labels is not None else distinct_values(df, col)
    out_col = out_col or col
    arr = F.array(*[F.lit(v) for v in labels])
    code = F.array_position(arr, F.col(col)).cast("double") - 1
    encoded = df.withColumn(out_col, F.when(F.col(col).isNotNull(), code))
    return encoded, labels


def label_decode(df: DataFrame, col: str, labels: list, out_col: str | None = None) -> DataFrame:
    """Inverse of label_encode: code → original label (E3)."""
    out_col = out_col or col
    arr = F.array(*[F.lit(v) for v in labels])
    # element_at is 1-based; codes are 0-based doubles after prediction.
    decoded = F.element_at(arr, (F.round(F.col(col)).cast("int") + 1))
    return df.withColumn(out_col, F.when(F.col(col).isNotNull(), decoded))
