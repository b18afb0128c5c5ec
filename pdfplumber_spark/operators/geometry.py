"""Geometry operators over the objects DataFrame — pure column expressions
(whole-stage codegen; zero Python), mirroring kernel/geom.py semantics.

These are the distributed forms of the reference's crop/filter/edge ops
(``utils/geometry.py``): the same predicates the kernels apply per page,
expressed so Catalyst can push them into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def overlap_pred(bbox) -> Column:
    """Overlap test incl. the nonzero-perimeter corner rule
    (``geometry.py:53-65``)."""
    bx0, btop, bx1, bbottom = (F.lit(float(v)) for v in bbox)
    o_w = F.least(F.col("x1"), bx1) - F.greatest(F.col("x0"), bx0)
    o_h = F.least(F.col("bottom"), bbottom) - F.greatest(F.col("top"), btop)
    return (o_w >= 0) & (o_h >= 0) & ((o_w + o_h) > 0)


def within_pred(bbox) -> Column:
    bx0, btop, bx1, bbottom = (F.lit(float(v)) for v in bbox)
    return (
        (F.col("x0") >= bx0)
        & (F.col("x1") <= bx1)
        & (F.col("top") >= btop)
        & (F.col("bottom") <= bbottom)
        & overlap_pred(bbox)
    )


def filter_within(df: DataFrame, bbox) -> DataFrame:
    return df.where(within_pred(bbox))


def crop(df: DataFrame, bbox) -> DataFrame:
    """Intersect-filter + coordinate rewrite (``geometry.py:75-92``)."""
    bx0, btop, bx1, bbottom = (float(v) for v in bbox)
    new_top = F.greatest(F.col("top"), F.lit(btop))
    out = df.where(overlap_pred(bbox)).withColumns(
        {
            "doctop": F.col("doctop") + (new_top - F.col("top")),
            "x0": F.greatest(F.col("x0"), F.lit(bx0)),
            "x1": F.least(F.col("x1"), F.lit(bx1)),
            "top": new_top,
            "bottom": F.least(F.col("bottom"), F.lit(bbottom)),
        }
    )
    return out.withColumns(
        {"width": F.col("x1") - F.col("x0"), "height": F.col("bottom") - F.col("top")}
    )


def objects_bbox(df: DataFrame, *group_cols: str) -> DataFrame:
    """Enclosing bbox per group (``geometry.py:18-50``)."""
    return df.groupBy(*group_cols).agg(
        F.min("x0").alias("x0"),
        F.min("top").alias("top"),
        F.max("x1").alias("x1"),
        F.max("bottom").alias("bottom"),
    )


def rects_to_edges_df(rects: DataFrame) -> DataFrame:
    """rect rows -> 4 edge rows each (``geometry.py:207-244``) via a
    generator explode — the distributed ``rect_to_edges``."""
    edge = F.explode(
        F.array(
            F.struct(  # top
                F.col("x0").alias("x0"), F.col("x1").alias("x1"),
                F.col("top").alias("top"), F.col("top").alias("bottom"),
                F.col("width").alias("width"), F.lit(0.0).alias("height"),
                F.col("doctop").alias("doctop"),
                F.lit("h").alias("orientation"),
            ),
            F.struct(  # bottom
                F.col("x0").alias("x0"), F.col("x1").alias("x1"),
                F.col("bottom").alias("top"), F.col("bottom").alias("bottom"),
                F.col("width").alias("width"), F.lit(0.0).alias("height"),
                (F.col("doctop") + F.col("height")).alias("doctop"),
                F.lit("h").alias("orientation"),
            ),
            F.struct(  # left
                F.col("x0").alias("x0"), F.col("x0").alias("x1"),
                F.col("top").alias("top"), F.col("bottom").alias("bottom"),
                F.lit(0.0).alias("width"), F.col("height").alias("height"),
                F.col("doctop").alias("doctop"),
                F.lit("v").alias("orientation"),
            ),
            F.struct(  # right
                F.col("x1").alias("x0"), F.col("x1").alias("x1"),
                F.col("top").alias("top"), F.col("bottom").alias("bottom"),
                F.lit(0.0).alias("width"), F.col("height").alias("height"),
                F.col("doctop").alias("doctop"),
                F.lit("v").alias("orientation"),
            ),
        )
    ).alias("e")
    keys = [c for c in ("url", "page_number", "obj_index") if c in rects.columns]
    return rects.select(*keys, edge).select(*keys, "e.*").withColumn(
        "object_type", F.lit("rect_edge")
    )


def edge_intersections_df(
    v_edges: DataFrame, h_edges: DataFrame, x_tol: float = 1.0, y_tol: float = 1.0
) -> DataFrame:
    """The band θ-join (``table.py:207-231``) as a real Spark join — the
    corpus-scale form (per page the kernels do it in-memory). Equi-part on
    (url, page_number) keeps it partition-local; the band condition rides
    along as a non-equi predicate."""
    v = v_edges.select(
        "url", "page_number",
        F.col("x0").alias("vx0"), F.col("top").alias("vtop"),
        F.col("bottom").alias("vbottom"),
    )
    h = h_edges.select(
        "url", "page_number",
        F.col("x0").alias("hx0"), F.col("x1").alias("hx1"),
        F.col("top").alias("htop"),
    )
    joined = v.join(h, ["url", "page_number"]).where(
        (F.col("vtop") <= F.col("htop") + F.lit(y_tol))
        & (F.col("vbottom") >= F.col("htop") - F.lit(y_tol))
        & (F.col("vx0") >= F.col("hx0") - F.lit(x_tol))
        & (F.col("vx0") <= F.col("hx1") + F.lit(x_tol))
    )
    return joined.groupBy(
        "url", "page_number",
        F.col("vx0").alias("x"), F.col("htop").alias("top"),
    ).agg(F.count("*").alias("n_edge_pairs"))
