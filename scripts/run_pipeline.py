"""spark-submit entry for the extraction pipeline.

    spark-submit --py-files pdfx.zip scripts/run_pipeline.py \
        --input  <parquet path | iceberg catalog.table> \
        --output <parquet path | iceberg catalog.table> \
        [--lineage <ref>] [--resume] [--input-asof SNAPSHOT] \
        [--num-partitions N] \
        [--max-pages N] [--config PDFExtract.json] [--html]

Reads the interleaved-document table (doc_id, spans), extracts spans (or
alignment-optimized HTML with --html), commits output + per-partition
lineage via TableIO (Iceberg when a catalog is configured, parquet
warehouse with a snapshot manifest otherwise), and with --resume
anti-joins the input against already-committed doc_ids so a failed run
continues from the last committed snapshot.

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
                    help="per-doc page budget (oversized-doc bypass lane)")
    ap.add_argument("--time-budget", type=float, default=None,
                    help="per-doc seconds budget (X4: the reference's -t "
                         "poppler timeout; here partial spans + warning)")
    ap.add_argument("--config", default=None,
                    help="PDFExtract.json-compatible rule config")
    ap.add_argument("--sj-model", default=None,
                    help="W4 sentence-join model: a binary .blm file "
                         "(train_sentencejoin.py --convert) or an ARPA "
                         "prefix ({prefix}.forward.lm/.backward.lm"
                         "[/.threshold]); ship to executors with "
                         "spark-submit --files)")
    ap.add_argument("--sj-threshold", type=float, default=None,
                    help="sentence-join decision threshold (default 7.0 "
                         "or {prefix}.threshold)")
    ap.add_argument("--html", action="store_true",
                    help="emit alignment-optimized HTML instead of spans")
    ap.add_argument("--keep-br", action="store_true",
                    help="with --html: keep <br /> line tags inside "
                         "paragraphs (the reference's -K keepbrtags)")
    ap.add_argument("--dedup-mirrors", action="store_true",
                    help="extract each distinct payload once and join "
                         "results back (mirror-heavy corpora)")
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

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("pdf-extract-spark").getOrCreate()

    config = None
    if args.config:
        with open(args.config) as fh:
            config = json.load(fh)

    if args.html:
        from pdf_extract_spark.plans.pipeline import extract_html
        from pdf_extract_spark.sources.tableio import TableIO

        io = TableIO(spark)
        if args.input_format == "pdf-dir":
            from pdf_extract_spark.sources.corpus import read_pdf_dir

            src_df = read_pdf_dir(spark, args.input)
        else:
            src_df = io.read(args.input)
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
            sj_model=args.sj_model,
            sj_threshold=args.sj_threshold,
            time_budget_s=args.time_budget,
            input_format=args.input_format,
            dedup_mirrors=args.dedup_mirrors,
            input_asof=args.input_asof,
        )
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
