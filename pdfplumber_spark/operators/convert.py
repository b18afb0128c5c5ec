"""Serialization operators: the Spark analogue of the reference's
``Container.to_json`` / ``to_csv`` / ``Serializer``
(``container.py:106-179``, ``convert.py:15-127``) plus the CTM accessor
columns (``ctm.py:8-38``) — all pure column expressions.
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame, functions as F, types as T

# canonical CSV column ordering (convert.py:15-30)
CSV_COLS_REQUIRED = ["object_type"]
CSV_COLS_TO_PREPEND = [
    "page_number", "x0", "x1", "y0", "y1", "doctop", "top", "bottom",
    "width", "height",
]


def select_attrs(
    df: DataFrame,
    include_attrs: Optional[List[str]] = None,
    exclude_attrs: Optional[List[str]] = None,
) -> DataFrame:
    """Attr include/exclude filter (``convert.py:33-56``) — column
    projection, which Catalyst pushes into the scan."""
    if include_attrs is not None and exclude_attrs is not None:
        raise ValueError(
            "Cannot specify `include_attrs` and `exclude_attrs` at the same time."
        )
    cols = df.columns
    if include_attrs is not None:
        keep = [c for c in cols if c in set(CSV_COLS_REQUIRED) | set(include_attrs)]
    elif exclude_attrs is not None:
        bad = set(exclude_attrs) & set(CSV_COLS_REQUIRED)
        if bad:
            raise ValueError(f"Cannot exclude these required properties: {sorted(bad)}")
        keep = [c for c in cols if c not in set(exclude_attrs)]
    else:
        keep = cols
    return df.select(*keep)


def _has_double(dtype) -> bool:
    if isinstance(dtype, T.ArrayType):
        return _has_double(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_has_double(f.dataType) for f in dtype.fields)
    return isinstance(dtype, T.DoubleType)


def _round_doubles(col: Column, dtype, precision: int) -> Column:
    """``col`` with every double in it rounded, at any array or struct
    depth."""
    if not _has_double(dtype):
        return col
    if isinstance(dtype, T.DoubleType):
        return F.round(col, precision)
    if isinstance(dtype, T.ArrayType):
        return F.transform(
            col, lambda x: _round_doubles(x, dtype.elementType, precision)
        )
    return F.when(col.isNotNull(), F.struct(*(
        _round_doubles(col[f.name], f.dataType, precision).alias(f.name)
        for f in dtype.fields
    )))


def round_floats(df: DataFrame, precision: int = 3) -> DataFrame:
    """Serializer float rounding (``convert.py:62-78`` semantics): every
    double, top-level or nested in arrays and structs."""
    return df.select(*(
        _round_doubles(F.col(f.name), f.dataType, precision).alias(f.name)
        for f in df.schema.fields
    ))


def csv_ordered(df: DataFrame) -> DataFrame:
    """Canonical column order for CSV sinks (``convert.py:129-156``):
    object_type, the geometry prepend list, then the rest alphabetically."""
    cols = df.columns
    head = [c for c in CSV_COLS_REQUIRED + CSV_COLS_TO_PREPEND if c in cols]
    rest = sorted(c for c in cols if c not in head)
    return df.select(*(head + rest))


def flatten_complex(df: DataFrame) -> DataFrame:
    """Complex columns -> JSON strings (CSV-compatible; mirrors the
    reference's serializer falling back to structured text)."""
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.StructType, T.MapType)):
            out = out.withColumn(f.name, F.to_json(f.name))
        elif isinstance(f.dataType, T.BinaryType):
            out = out.withColumn(f.name, F.base64(f.name))  # convert.py:58-59
    return out


def with_ctm_accessors(df: DataFrame, matrix_col: str = "matrix") -> DataFrame:
    """CTM-derived columns (``ctm.py:8-38``): scale/skew/translation from
    the 6-element matrix column, via JVM math builtins."""
    m = F.col(matrix_col)
    a, b, c, d, e, f_ = (m.getItem(i) for i in range(6))
    return (
        df.withColumn("scale_x", F.sqrt(a * a + b * b))
        .withColumn("scale_y", F.sqrt(c * c + d * d))
        .withColumn("skew_x", F.degrees(F.atan2(d, c)) - F.lit(90.0))
        .withColumn("skew_y", F.degrees(F.atan2(b, a)))
        .withColumn("translation_x", e)
        .withColumn("translation_y", f_)
    )
