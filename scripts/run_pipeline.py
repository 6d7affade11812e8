"""spark-submit entry for the extraction pipeline.

    spark-submit --py-files pdfx.zip scripts/run_pipeline.py \
        --input  <parquet path | iceberg catalog.table> \
        --output <parquet path | iceberg catalog.table> \
        [--input-format table|pdf-dir|warc] [--input-asof SNAPSHOT] \
        [--max-pages N] [--config PDFExtract.json] \
        [--lineage <ref>] [--resume] [--num-partitions N] \
        [--time-budget S] [--html [--keep-br]]

Reads the interleaved-document table (doc_id, spans) — or raw PDFs or
WARC files — and extracts spans (or alignment-optimized HTML with
--html). Both sinks read their input the same way and append their
output via TableIO (Iceberg when a catalog is configured, parquet
warehouse with a snapshot manifest otherwise). The span sink also
commits per-partition lineage, and with --resume anti-joins the input
against already-committed doc_ids so a failed run continues from the
last committed snapshot. A flag the chosen sink would ignore is an
error: --lineage, --resume, --num-partitions and --time-budget need the
span sink, --keep-br needs --html. Both sinks run the W4 sentence join
for each language whose config names a ``sentencejoin_model`` ARPA
prefix (ship the model files to executors with spark-submit --files).

Build pdfx.zip with:  cd <repo> && zip -r pdfx.zip pdf_extract_spark
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python scripts/run_pipeline.py` runs (no --py-files): the repo
# root is the package location, not the script dir
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


#: options only the span sink (run_pipeline) reads
_SPANS_ONLY = ("lineage", "resume", "num_partitions", "time_budget")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--lineage", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--num-partitions", type=int, default=None,
                    help="round-robin the input into N partitions before "
                         "extraction (for generated/coarse inputs; file "
                         "scans usually prefer a small "
                         "spark.sql.files.maxPartitionBytes)")
    ap.add_argument("--max-pages", type=int, default=None,
                    help="per-doc page budget")
    ap.add_argument("--time-budget", type=float, default=None,
                    help="per-doc seconds budget (X4: the reference's -t "
                         "poppler timeout; here partial spans + warning)")
    ap.add_argument("--config", default=None,
                    help="PDFExtract.json-compatible rule config (its "
                         "sentencejoin_model prefixes enable W4)")
    ap.add_argument("--html", action="store_true",
                    help="emit alignment-optimized HTML instead of spans")
    ap.add_argument("--keep-br", action="store_true",
                    help="with --html: keep <br /> line tags inside "
                         "paragraphs (the reference's -K keepbrtags)")
    ap.add_argument("--input-asof", default=None,
                    help="time-travel: read the table input as of a "
                         "committed snapshot id (Iceberg snapshot-id / "
                         "parquet manifest history)")
    ap.add_argument("--input-format", choices=["table", "pdf-dir", "warc"],
                    default="table",
                    help="'pdf-dir' reads a directory of raw .pdf files "
                         "(the reference's -I/-B modes); 'warc' reads "
                         "web-archive files (Common Crawl layout)")
    args = ap.parse_args(argv)
    for dest in _SPANS_ONLY if args.html else ("keep_br",):
        if getattr(args, dest) not in (None, False):
            ap.error(f"--{dest.replace('_', '-')} has no effect "
                     f"{'with' if args.html else 'without'} --html")

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdf-extract-spark").getOrCreate()

    config = None
    if args.config:
        with open(args.config) as fh:
            config = json.load(fh)

    if args.html:
        from pdf_extract_spark.plans.pipeline import _read_input, extract_html
        from pdf_extract_spark.sources.tableio import TableIO

        io = TableIO(spark)
        src_df = _read_input(spark, io, args.input, args.input_format,
                             args.input_asof)
        out = extract_html(src_df, config=config,
                           max_pages=args.max_pages, keep_br=args.keep_br)
        run_id = io.write(out, args.output)
        summary = {"run_id": run_id}
    else:
        from pdf_extract_spark.plans.pipeline import run_pipeline

        summary = run_pipeline(
            spark,
            input_ref=args.input,
            output_ref=args.output,
            lineage_ref=args.lineage,
            config=config,
            resume=args.resume,
            num_partitions=args.num_partitions,
            max_pages=args.max_pages,
            time_budget_s=args.time_budget,
            input_format=args.input_format,
            input_asof=args.input_asof,
        )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
