"""Fixed Spark schemas for every object kind (FIXTURES.md §3-5).

The reference is schema-dynamic (dict allow-lists, ``page.py:40-69``); we fix
one StructType per object kind — required for Arrow vectorization. Rarely
present attributes are nullable columns, never dynamic keys.
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# unified object frame: chars + lines + rects + curves share one schema with
# object_type discriminator (column pruning makes per-kind projections free)
OBJECTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("object_type", T.StringType(), False),
        T.StructField("obj_index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("fontname", T.StringType(), True),
        T.StructField("size", T.DoubleType(), True),
        T.StructField("adv", T.DoubleType(), True),
        T.StructField("upright", T.IntegerType(), True),
        T.StructField("x0", T.DoubleType(), True),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("y0", T.DoubleType(), True),
        T.StructField("y1", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("bottom", T.DoubleType(), True),
        T.StructField("doctop", T.DoubleType(), True),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("height", T.DoubleType(), True),
        T.StructField("linewidth", T.DoubleType(), True),
        T.StructField("stroke", T.BooleanType(), True),
        T.StructField("fill", T.BooleanType(), True),
        T.StructField("matrix", T.ArrayType(T.DoubleType()), True),
        T.StructField("stroking_color", T.ArrayType(T.DoubleType()), True),
        T.StructField("non_stroking_color", T.ArrayType(T.DoubleType()), True),
        T.StructField(
            "pts",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("x", T.DoubleType(), True),
                        T.StructField("y", T.DoubleType(), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("mcid", T.IntegerType(), True),
        T.StructField("tag", T.StringType(), True),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("n_chars", T.IntegerType(), True),
        T.StructField("n_words", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
    ]
)

WORDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("word_index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("x0", T.DoubleType(), True),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("doctop", T.DoubleType(), True),
        T.StructField("bottom", T.DoubleType(), True),
        T.StructField("upright", T.IntegerType(), True),
        T.StructField("height", T.DoubleType(), True),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("direction", T.StringType(), True),
    ]
)

TABLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("table_index", T.IntegerType(), False),
        T.StructField("row_index", T.IntegerType(), False),
        T.StructField("col_index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("x0", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("bottom", T.DoubleType(), True),
    ]
)

# mega-document page explosion: page_base is the original page number of an
# exploded 1-page payload, 0 for an intact document
EXPLODED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_base", T.IntegerType(), False),
        T.StructField("html", T.BinaryType(), True),
    ]
)

STRUCTURE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("structure_json", T.StringType(), True),
    ]
)

PAGE_GEOMETRY_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("width", T.DoubleType(), True),
        T.StructField("height", T.DoubleType(), True),
        T.StructField("rotation", T.IntegerType(), True),
    ]
)

METADATA_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
    ]
)

ANNOTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("x0", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("bottom", T.DoubleType(), True),
        T.StructField("doctop", T.DoubleType(), True),
        T.StructField("uri", T.StringType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("contents", T.StringType(), True),
    ]
)
