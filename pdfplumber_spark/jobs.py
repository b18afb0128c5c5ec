"""spark-submit entrypoint (north_rule: "run via spark-submit --py-files on
a multi-executor cluster").

Usage:
    spark-submit --py-files pdfplumber_spark.zip -m pdfplumber_spark.jobs \
        extract --input /data/pages --output /data/extracted \
        --buckets 4096 [--layout] [--resume]

    python -m pdfplumber_spark.jobs extract ...   (local mode, same flags)

Subcommands map 1:1 to the reference CLI surface (``pdfplumber/cli.py``):
extract (text), objects (csv/json of chars/lines/rects/curves), words,
tables — each writing parquet/csv/json sinks.
"""

from __future__ import annotations

import argparse
import json
import sys

from .cli import parse_page_spec


def _session(args):
    from .session import get_spark

    if args.local_cores:
        return get_spark(app_name=f"pdfplumber-spark-{args.cmd}", cores=args.local_cores)
    from pyspark.sql import SparkSession

    return SparkSession.builder.appName(f"pdfplumber-spark-{args.cmd}").getOrCreate()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="pdfplumber_spark.jobs")
    ap.add_argument(
        "cmd",
        choices=["extract", "objects", "words", "tables", "structure",
                 "structure-text", "metadata", "render"],
    )
    ap.add_argument("--input", required=True, help="pages table path (parquet/iceberg)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="parquet", choices=["parquet", "json", "csv"])
    ap.add_argument("--layout", action="store_true", help="layout=True text")
    ap.add_argument("--repair", action="store_true",
                    help="retry failed PDFs through the structural "
                         "rebuilder (extract cmd; PDF.open(repair=True) "
                         "analogue)")
    ap.add_argument("--buckets", type=int, default=0,
                    help="checkpointed run with N url-hash buckets (resumable)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--resolution", type=float, default=36,
                    help="render: pixels per 72 points")
    ap.add_argument("--local-cores", type=int, default=0,
                    help="local[N] session (0 = cluster session from spark-submit)")
    ap.add_argument("--vertical-strategy", default="lines")
    ap.add_argument("--horizontal-strategy", default="lines")
    # reference cli.py:40-66 flag parity
    ap.add_argument("--types", nargs="+", default=None,
                    help="object kinds to keep (objects cmd), e.g. char rect")
    ap.add_argument("--include-attrs", nargs="+", default=None,
                    help="include *only* these object attributes in output")
    ap.add_argument("--exclude-attrs", nargs="+", default=None,
                    help="exclude these object attributes from output")
    ap.add_argument("--precision", type=int, default=None,
                    help="round float columns to N decimal places")
    ap.add_argument("--laparams", type=json.loads, default=None,
                    help="pdfminer LAParams dict as JSON (objects cmd: adds "
                         "textline*/textbox* rows, reading-order char index; "
                         "reference cli.py:56)")
    ap.add_argument("--pages", nargs="+", type=parse_page_spec, default=None,
                    help="page numbers / ranges to keep, e.g. --pages 1-3 7")
    args = ap.parse_args(argv)
    if args.pages is not None:
        args.pages = sorted({p for spec in args.pages for p in spec})

    spark = _session(args)
    from .plans import extract as X

    pages = X.read_pages(spark, args.input)

    if args.cmd in ("structure", "structure-text"):
        out = X.extract_structure(
            pages,
            num_partitions=args.partitions,
            with_text=args.cmd == "structure-text",
            laparams=args.laparams,
        )
        _write(out, args)
        print(json.dumps({"cmd": args.cmd, "output": args.output,
                          "rows": out.count()}))
        return 0
    if args.cmd == "render":
        # distributed structural debug rendering (display.PageImage):
        # one row per page with PNG dims + sha256; --format parquet/json
        from .operators.multimodal import render_debug_png

        out = render_debug_png(pages, resolution=args.resolution)
        _write(out, args)
        print(json.dumps({"cmd": args.cmd, "output": args.output,
                          "rows": out.count()}))
        return 0
    if args.cmd == "metadata":
        out = X.extract_metadata(pages, num_partitions=args.partitions)
        _write(out, args)
        print(json.dumps({"cmd": args.cmd, "output": args.output,
                          "rows": out.count()}))
        return 0
    if args.cmd == "extract":
        if args.buckets:
            from .plans.checkpoint import run_extraction_checkpointed

            summary = run_extraction_checkpointed(
                spark, args.input, args.output,
                n_buckets=args.buckets, layout=args.layout,
            )
            print(json.dumps(summary))
            return 0
        out = X.extract_text(pages, layout=args.layout,
                             num_partitions=args.partitions,
                             repair=args.repair)
    elif args.cmd == "objects":
        out = X.extract_objects(
            pages, num_partitions=args.partitions, laparams=args.laparams
        )
    elif args.cmd == "words":
        out = X.extract_words(pages, num_partitions=args.partitions)
    else:  # tables
        out = X.extract_tables(
            pages,
            num_partitions=args.partitions,
            vertical_strategy=args.vertical_strategy,
            horizontal_strategy=args.horizontal_strategy,
        )

    out = _apply_row_col_filters(out, args)
    _write(out, args)
    print(json.dumps({"cmd": args.cmd, "output": args.output, "rows": out.count()}))
    return 0


_ALWAYS_COLS = ("url", "page_number", "object_type")


def _apply_row_col_filters(out, args):
    """--types / --pages / --include-attrs / --exclude-attrs / --precision
    (reference cli.py:40-66 + convert.py serialization knobs)."""
    from pyspark.sql import functions as F

    from .operators.convert import round_floats

    if args.types and "object_type" in out.columns:
        out = out.where(F.col("object_type").isin(list(args.types)))
    if args.pages and "page_number" in out.columns:
        out = out.where(F.col("page_number").isin(args.pages))
    if args.include_attrs:
        keep = [c for c in out.columns
                if c in args.include_attrs or c in _ALWAYS_COLS]
        out = out.select(*keep)
    if args.exclude_attrs:
        keep = [c for c in out.columns
                if c not in args.exclude_attrs or c in _ALWAYS_COLS]
        out = out.select(*keep)
    if args.precision is not None:
        out = round_floats(out, args.precision)
    return out


def _write(out, args):
    if args.format == "csv":
        # complex cols -> json strings (convert.py:15-30 analogue)
        from .operators.convert import flatten_complex

        out = flatten_complex(out)
    writer = out.write.mode("overwrite")
    if args.format == "parquet":
        writer.parquet(args.output)
    elif args.format == "json":
        writer.json(args.output)
    else:
        writer.option("header", True).csv(args.output)


if __name__ == "__main__":
    sys.exit(main())
