"""The platform story as ONE test: extraction feeds the training-data
tiers. A synthetic interleaved corpus (with planted near-duplicates)
runs extract → documents table → near-dedup keep-canonical →
quality/curation → sequence packing, asserting the hand-offs between
tiers — schemas compose, duplicates planted before extraction are the
ones dedup removes after it, and packing conserves the survivors'
tokens."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

N_DOCS = 24


@pytest.fixture(scope="module")
def pipeline_sf_dir(spark, tmp_path_factory):
    """documents.parquet produced BY the extraction pipeline from an
    interleaved span corpus, with every 4th doc duplicated under a new
    doc_id (the planted near-dup population)."""
    from pdf_extract_spark.plans.pipeline import extract_spans
    from pdf_extract_spark.sources.corpus import corpus_dataframe

    corpus = corpus_dataframe(spark, N_DOCS)
    # corpus doc_ids are 'docNNNNNNNN' strings; work with the digits
    num = "cast(regexp_replace(doc_id, '[^0-9]', '') as bigint)"
    dups = (
        corpus.filter(F.expr(f"{num} % 4 = 0"))
        .withColumn("doc_id", F.concat(F.lit("9"), "doc_id"))
    )
    out = extract_spans(corpus.unionByName(dups))
    # documents table: doc text = the extracted text spans in order
    docs = out.select(
        F.expr("cast(regexp_replace(doc_id, '[^0-9]', '') as bigint)")
        .alias("doc_id"),
        F.expr(
            "array_join(transform(filter(spans, s -> s.kind = 'text'),"
            " s -> s.text), ' ')"
        ).alias("text"),
        F.coalesce("lang", F.lit("un")).alias("lang"),
        F.concat(F.lit("src"), F.expr(
            "cast(regexp_replace(doc_id, '[^0-9]', '') as bigint) % 3"
        )).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    d = tmp_path_factory.mktemp("e2e")
    docs.coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


def test_extraction_feeds_documents_table(spark, pipeline_sf_dir):
    docs = spark.read.parquet(f"{pipeline_sf_dir}/documents.parquet")
    assert docs.count() == N_DOCS + N_DOCS // 4
    assert docs.filter("text = '' or text is null").count() == 0


def test_dedup_removes_exactly_the_planted_duplicates(
        spark, pipeline_sf_dir):
    """keep_canonical must drop one member of every planted pair (the
    higher doc_id — the '9'-prefixed copy) and keep every unique doc."""
    from pdf_extract_spark.operators.dedup import dedup_keep_canonical

    survivors = {r.doc_id for r in
                 dedup_keep_canonical(spark, pipeline_sf_dir).collect()}
    originals = {i for i in range(N_DOCS)}
    planted = {900_000_000 + i for i in range(0, N_DOCS, 4)}
    assert originals <= survivors
    assert survivors.isdisjoint(planted)
    assert survivors == originals


def test_curation_tiers_compose_on_extracted_text(spark, pipeline_sf_dir):
    """Quality scoring, surprisal, and packing all run on the
    extraction-produced table; packing conserves every document's
    tokens within its shard."""
    from pdf_extract_spark.functions.curation import seq_pack
    from pdf_extract_spark.functions.textstats import (
        quality_scores,
        unigram_surprisal,
    )

    n = spark.read.parquet(
        f"{pipeline_sf_dir}/documents.parquet").count()
    q = quality_scores(spark, pipeline_sf_dir)
    assert q.count() == n
    s = unigram_surprisal(spark, pipeline_sf_dir)
    assert s.count() == n
    # planted exact copies must have identical surprisal profiles
    rows = {r.doc_id: (r.n_tok, r.nll_u) for r in s.collect()}
    for i in range(0, N_DOCS, 4):
        assert rows[i] == rows[900_000_000 + i]
    packed = seq_pack(spark, pipeline_sf_dir).collect()
    tok_total = sum(r.n_tok for r in packed)
    assert tok_total == sum(v[0] for v in rows.values())
