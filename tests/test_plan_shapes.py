"""Physical-plan assertions for the 100 TB design claims: filters and
projections reach the scan, small dims broadcast, gated repartitions do
not shuffle already-parallel inputs, and no operator degenerates to a
nested-loop/cartesian stage. These are the properties BENCH.md's plan
audit relies on — asserted so a refactor cannot silently lose them."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pdf_extract_spark.runtime import read_documents
from tests.conftest import corpus_frame

SF_DIR = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_project_pushdown(spark):
    """P3/P4: predicate + 4-column projection reach the parquet scan."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["filter_project"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_quantity)" in plan
    assert "GreaterThanOrEqual(l_quantity,45.0)" in plan
    # column pruning: the FileScan reads exactly the 5 needed columns
    # (plan toString truncates ReadSchema, so parse the scan's list)
    import re

    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    assert cols == {"l_orderkey", "l_linenumber", "l_quantity",
                    "l_extendedprice", "l_discount"}


def test_broadcast_dim_join_no_fact_shuffle(spark):
    """P5: the dim side broadcasts; the fact table is not exchanged
    before the join (only the post-agg exchange remains)."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["broadcast_dim_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    join_part = plan.split("BroadcastHashJoin")[-1]
    # below the join: scans + broadcast exchange only, no shuffle of facts
    assert "Exchange hashpartitioning" not in join_part


def test_whole_stage_codegen_on_relational_core(spark):
    """The relational queries stay inside whole-stage codegen (no
    per-row Python anywhere in the plan)."""
    from pdf_extract_spark.queries import QUERIES

    for name in ("filter_project", "modal_group", "run_length"):
        plan = _physical(QUERIES[name](spark, SF_DIR))
        # '*(n)' = codegen stage marker; AQE wrappers only materialize
        # them at execution, so accept the adaptive root too
        assert "*(" in plan or "AdaptiveSparkPlan" in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_dedup_queries_no_python_no_cartesian(spark):
    """LSH/simhash dedup: pure Catalyst (no Python eval nodes) and no
    nested-loop join anywhere — the O(n·bands) claim."""
    from pdf_extract_spark.queries import QUERIES

    for name in ("dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
                 "dedup_embedding_srp", "dedup_incremental",
                 "dedup_sketch_pairs",
                 "simhash_fingerprints", "dedup_containment",
                 "source_quota_sample"):
        plan = _physical(QUERIES[name](spark, SF_DIR))
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


def test_bm25_plan_shape(spark):
    """text_bm25_topk: term doc-frequencies broadcast (tiny build
    side), the ONLY nested loop is the 1-row corpus-stats broadcast,
    the top-k is a TakeOrderedAndProject (distributed heads, no global
    sort of the scored frame), and no Python eval nodes."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["text_bm25_topk"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_gated_repartition_skips_parallel_input(spark, tmp_path):
    """The documents-scan repartition only fires for under-parallel
    scans: a multi-partition input shows no round-robin exchange
    (VERDICT r1 item 7 done-bar)."""
    par = spark.sparkContext.defaultParallelism

    # single small file → repartition inserted
    assert "Repartition" in _optimized(read_documents(spark, SF_DIR))

    # already-parallel input (documents.parquet as a multi-file dir
    # under a synthetic sf_dir) → scan kept as-is, no exchange
    sf2 = tmp_path / "sf_par"
    sf2.mkdir()
    (spark.read.parquet(f"{SF_DIR}/documents.parquet")
     .repartition(par).write.parquet(str(sf2 / "documents.parquet")))
    df = read_documents(spark, str(sf2))
    assert df.rdd.getNumPartitions() >= par
    assert "Repartition" not in _optimized(df)


def test_extraction_plan_is_narrow(spark):
    """The flagship extraction is a zero-shuffle narrow map over an
    in-memory source too (BENCH.md §4: narrow beats shuffle for payload
    tables), in both sinks, with no pandas boundary."""
    from pdf_extract_spark.plans.pipeline import extract_html, extract_spans

    df = corpus_frame(spark, 4)
    for sink in (extract_spans, extract_html):
        plan = _physical(sink(df))
        assert "Exchange" not in plan, sink.__name__
        assert "MapInArrow" in plan, sink.__name__
        assert "MapInPandas" not in plan, sink.__name__


def test_extraction_num_partitions_is_one_round_robin(spark, tmp_path):
    """``num_partitions=n`` puts one round-robin exchange in front of the
    one extraction map: the input is scanned once, nothing is unioned,
    the output has ``n`` partitions, and the spans are the unpartitioned
    run's."""
    from pdf_extract_spark.plans.pipeline import extract_spans

    path = str(tmp_path / "docs")
    corpus_frame(spark, 8).repartition(2).write.parquet(path)
    df = spark.read.parquet(path)
    out = extract_spans(df, num_partitions=4)
    plan = _physical(out)
    assert plan.count("FileScan") == 1, plan
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") == 1, plan
    assert "RoundRobinPartitioning(4)" in plan, plan
    assert "Union" not in plan, plan
    assert out.rdd.getNumPartitions() == 4

    def spans(frame):
        return sorted((r["doc_id"], r["spans"]) for r in frame.collect())

    assert spans(out) == spans(extract_spans(df))


def test_ivf_trained_plan_shape(spark):
    """ann_ivf_trained: every nested-loop join in the plan is against
    the IVF_K-row centroid side (broadcast — the intended tiny cross
    join), no Python eval nodes, and no CartesianProduct (the full
    corpus never cross-joins itself)."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["ann_ivf_trained"](spark, SF_DIR))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # the centroid cross joins must be broadcast nested loops (8-row
    # build side), never a shuffled cartesian of the corpus
    assert "BroadcastNestedLoopJoin" in plan


def test_bucketed_sketch_join_no_shuffle(spark, tmp_path):
    """The materialized bucketed sketch removes near-dedup's biggest
    shuffle: the banded LSH candidate SELF-JOIN reads both sides
    bucket-to-bucket and the first-colliding-band rule leaves no pair
    duplicates to collapse, so the plan has ZERO Exchanges — and the
    pairs equal the shuffle-based minhash_lsh_pairs exactly."""
    import re

    from pdf_extract_spark.operators import dedup

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = read_documents(spark, SF_DIR)
        dedup.write_sketch_table(docs, "sketch_shape_t", str(tmp_path / "sk"))
        pairs = dedup.band_pairs(spark.table("sketch_shape_t"))
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert not re.findall(r"Exchange [^\n]*", plan), plan

        got = sorted((r.doc_id_a, r.doc_id_b) for r in pairs.collect())
        want = sorted(
            (r.doc_id_a, r.doc_id_b)
            for r in dedup.minhash_lsh_pairs(spark, SF_DIR).collect())
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS sketch_shape_t")


def test_incremental_dedup_reads_sketch_not_rehash(spark):
    """dedup_incremental's corpus side is ONLY a scan of the
    materialized sketch table — no shingle/minhash expression ever
    touches the corpus again (signatures computed once at ingest).
    The plan therefore contains exactly ONE documents.parquet scan
    (the new batch) plus the sketch-table scan."""
    import re

    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["dedup_incremental"](spark, SF_DIR))
    scans = re.findall(r"FileScan parquet[^\n]*", plan)
    doc_scans = [s for s in scans if "documents" in s]
    sketch_scans = [s for s in scans if "pdfx_sketch" in s]
    assert len(sketch_scans) >= 1, scans    # corpus = materialized sketch
    # every raw-documents scan is the FILTERED new batch (the band union
    # duplicates it once per LSH band); the corpus is never re-scanned
    # raw, so no shingle/minhash expression touches it
    assert doc_scans and all("% 10" in s for s in doc_scans), scans


def test_sketch_table_scan_is_pure_and_equals_in_plan_bands(spark,
                                                           tmp_path):
    """The corpus side every sketch consumer reads from the
    materialized table is a plain scan with ZERO hashing (no transform
    / array_distinct / array_min anywhere in the plan), and yields
    row-identical sketch rows — band_keys included — to the in-plan
    banded_signatures form."""
    from pdf_extract_spark.operators import dedup

    docs = read_documents(spark, SF_DIR)
    try:
        dedup.write_sketch_table(docs, "sketch_stream_t", str(tmp_path / "sk"))
        from_table = spark.table("sketch_stream_t")
        plan = _physical(from_table)
        for marker in ("transform(", "array_distinct", "array_min"):
            assert marker not in plan, (marker, plan)

        key = ["doc_id", "band_idx", "band_key", "n_sh", "band_keys"]
        got = sorted(tuple(r[k] for k in key)
                     for r in from_table.collect())
        want = sorted(tuple(r[k] for k in key)
                      for r in dedup.banded_signatures(docs).collect())
        assert got == want and got
    finally:
        spark.sql("DROP TABLE IF EXISTS sketch_stream_t")


@pytest.mark.parametrize("name,pair", [
    ("dedup_minhash_lsh", "doc_id"),
    ("dedup_simhash", "doc_id"),
    ("dedup_embedding_srp", "vec_id"),
    ("media_phash_neardup", "media_ref"),
])
def test_lsh_pairs_have_no_pair_distinct(spark, name, pair):
    """The first-colliding-band rule (``dedup.band_join``) emits each
    candidate pair once, so no banded-LSH query has an aggregate keyed
    on its pair columns (the old ``.distinct()`` shuffle), and the band
    rows come from one posexplode (``dedup.explode_bands``), not a
    per-band Union."""
    import re

    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES[name](spark, SF_DIR))
    aggs = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
    assert not [k for k in aggs
                if f"{pair}_a" in k and f"{pair}_b" in k], plan
    assert "Union" not in plan, plan


@pytest.mark.parametrize("name", [
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding_srp",
    "media_phash_neardup",
])
def test_band_keys_built_once(spark, name):
    """``dedup.explode_bands`` builds each row's band-key array once: a
    plain posexplode makes Spark infer ``size(band_keys) > 0`` and push
    it below the projection, where it rebuilds the key array in a
    ``Filter`` (and a cached scan's predicate) besides the ``Project``."""
    from pdf_extract_spark.queries import QUERIES

    df = QUERIES[name](spark, SF_DIR)
    df.collect()
    plan = _physical(df)
    assert "size(array(" not in plan, plan


def _subtrees(plan: str, node: str):
    """Text of every subtree of ``plan`` rooted at a ``node`` line: the
    lines after it, up to the first one whose node name starts at or
    left of the root's column."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        col = line.find(node)
        if col < 0:
            continue
        sub = [line]
        for nxt in lines[i + 1:]:
            if len(nxt) - len(nxt.lstrip(" :+-")) <= col:
                break
            sub.append(nxt)
        yield "\n".join(sub)


def test_minhash_lsh_verify_builds_on_candidates(spark):
    """The jaccard verify of dedup_minhash_lsh broadcasts the candidate
    pairs, not the persisted signature frame: every broadcast that
    carries the frame's ``sh`` column has the band join below it (it
    holds shingle sets of candidates only), so no task deserializes a
    copy of the whole corpus's shingle sets. Checked on the executed
    adaptive plan, where AQE has seen the cached frame's exact size.
    The same holds for both ``F.broadcast``-forced sides of the
    analyzed plan: a forced build side is never corpus-sized."""
    import re

    from pdf_extract_spark.queries import QUERIES

    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    forced = list(_subtrees(df._jdf.queryExecution().analyzed().toString(),
                            "ResolvedHint (strategy=broadcast)"))
    assert len(forced) == 2, forced
    for sub in forced:
        assert re.search(r"Join Inner, \(\(band_idx#\d+ = band_idx#",
                         sub), sub
    df.collect()
    plan = _physical(df)
    carrying = [sub for sub in _subtrees(plan, "BroadcastExchange")
                if re.search(r"InMemoryTableScan \[[^\]]*\bsh#", sub)]
    assert carrying, plan
    for sub in carrying:
        assert re.search(r"Join \[band_idx#", sub), sub


def test_minhash_band_keys_are_int64(spark):
    """MinHash band keys are one ``xxhash64`` per band, not decimal
    text: the executed dedup_minhash_lsh plan formats no string key, and
    the sketch rows carry a bigint ``band_key`` and an
    ``array<bigint>`` ``band_keys``."""
    from pyspark.sql.types import ArrayType, LongType

    from pdf_extract_spark.operators import dedup
    from pdf_extract_spark.queries import QUERIES

    df = QUERIES["dedup_minhash_lsh"](spark, SF_DIR)
    df.collect()
    assert "concat_ws" not in _physical(df)
    schema = dedup.banded_signatures(read_documents(spark, SF_DIR)).schema
    assert schema["band_key"].dataType == LongType()
    keys = schema["band_keys"].dataType
    assert isinstance(keys, ArrayType) and keys.elementType == LongType()


def test_band_join_refuses_mixed_band_key_types(spark):
    """A sketch written with string band keys cannot join bigint band
    rows (ANSI fails the cast at run time; without ANSI no pair ever
    matches), so the join refuses it while the plan is built, naming
    both sides' types."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.operators import dedup

    docs = read_documents(spark, SF_DIR)
    sketch = dedup.banded_signatures(
        docs.filter(F.col("doc_id") % 10 != 0)).select(
        "doc_id", "sh", "n_sh",
        F.col("band_keys").cast("array<string>").alias("band_keys"),
        "band_idx", F.col("band_key").cast("string").alias("band_key"))
    with pytest.raises(ValueError, match=r"bigint \(a\) vs string \(b\)"):
        dedup.incremental_pairs_against_sketch(
            docs.filter(F.col("doc_id") % 10 == 0), sketch)


def test_incremental_sketch_join_plan_has_no_rehash(spark):
    """incremental_pairs_against_sketch tells a pair's first colliding
    band from the carried band-key arrays, not by re-folding minhashes
    through interpreted higher-order functions: no aggregate( /
    transform( in the plan."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    sketch = dedup.banded_signatures(docs.filter(F.col("doc_id") % 10 != 0))
    plan = _physical(dedup.incremental_pairs_against_sketch(
        docs.filter(F.col("doc_id") % 10 == 0), sketch))
    for marker in ("aggregate(", "transform("):
        assert marker not in plan, (marker, plan)


def test_ensure_sketch_table_distinct_for_same_basename(spark, tmp_path):
    """Two corpora that share a directory BASENAME must not share one
    sketch table/warehouse path: the second materialization would
    silently overwrite the first and serve the wrong corpus' signatures
    to the first corpus' memoized table name."""
    from pdf_extract_spark.operators import dedup

    rows_a = [("a1", "alpha " * 30), ("a2", "alpha " * 30)]
    rows_b = [("b1", "omega " * 30), ("b2", "omega " * 30)]
    dirs = []
    for name, rows in (("one", rows_a), ("two", rows_b)):
        d = tmp_path / name / "corpus"
        spark.createDataFrame(rows, "doc_id string, text string") \
            .coalesce(1).write.parquet(str(d / "documents.parquet"))
        dirs.append(str(d))
    t_a = t_b = None
    try:
        t_a = dedup.ensure_sketch_table(spark, dirs[0])
        t_b = dedup.ensure_sketch_table(spark, dirs[1])
        assert t_a != t_b
        ids_a = {r.doc_id for r in spark.table(t_a).select("doc_id").collect()}
        ids_b = {r.doc_id for r in spark.table(t_b).select("doc_id").collect()}
        assert ids_a == {"a1", "a2"}
        assert ids_b == {"b1", "b2"}
    finally:
        # the sketch tables are external: DROP TABLE keeps their files
        for t in (t_a, t_b):
            if t:
                spark.sql(f"DROP TABLE IF EXISTS {t}")
                shutil.rmtree(os.path.join(tempfile.gettempdir(), t),
                              ignore_errors=True)


def test_sketch_append_lifecycle(spark, tmp_path):
    """Incremental ingest lifecycle: bootstrap the sketch from 90% of
    the corpus, append the remaining batch's signatures, and the
    appended table's self-join pairs equal the full-corpus pairs with
    the plan still Exchange-free (multi-file buckets stay co-located)."""
    import re

    from pyspark.sql import functions as F

    from pdf_extract_spark.operators import dedup

    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = read_documents(spark, SF_DIR)
        old = docs.filter(F.col("doc_id") % 10 != 0)
        new = docs.filter(F.col("doc_id") % 10 == 0)
        dedup.write_sketch_table(old, "sketch_app_t", str(tmp_path / "ska"))
        dedup.append_to_sketch_table(new, "sketch_app_t")

        t = spark.table("sketch_app_t")
        assert t.select("doc_id").distinct().count() == docs.count()

        pairs = dedup.band_pairs(t)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert not re.findall(r"Exchange [^\n]*", plan), plan

        got = sorted((r.doc_id_a, r.doc_id_b) for r in pairs.collect())
        want = sorted(
            (r.doc_id_a, r.doc_id_b)
            for r in dedup.minhash_lsh_pairs(spark, SF_DIR).collect())
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS sketch_app_t")


def test_simhash_fingerprints_is_narrow_kernel(spark):
    """The in-kernel simhash is a zero-shuffle plan: scan → (gated
    round-robin repartition) → one ``mapInArrow`` (Arrow in and out, no
    pandas conversion on either side). No hash Exchange, no
    aggregate — the r4 explode + 32-vote form shuffled every shingle
    hash on doc_id."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["simhash_fingerprints"](spark, SF_DIR))
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "HashAggregate" not in plan


@pytest.mark.parametrize("name", [
    "media_features", "image_resize", "video_frame_sample", "read_warc",
    "corpus_dataframe",
])
def test_row_map_plan_is_arrow(spark, tmp_path, name):
    """Every row-wise Python UDF crosses into Python through the one
    Arrow row map (runtime.map_rows): ``MapInArrow``, no pandas
    conversion on either side."""
    from pdf_extract_spark.operators import multimodal
    from pdf_extract_spark.sources.corpus import corpus_dataframe
    from pdf_extract_spark.sources.warc import read_warc

    if name == "read_warc":
        df = read_warc(spark, str(tmp_path))
    elif name == "corpus_dataframe":
        df = corpus_dataframe(spark, 4)
    else:
        df = getattr(multimodal, name)(
            multimodal.media_from_documents(spark, SF_DIR))
    plan = _physical(df)
    assert "MapInArrow" in plan, name
    assert "MapInPandas" not in plan, name


def test_row_map_package_has_no_pandas_source():
    """No module of the package imports pandas or opens a pandas UDF
    boundary: ``runtime.map_rows`` is the only way into Python."""
    import pathlib
    import re

    import pdf_extract_spark

    pat = re.compile(r"import pandas|applyInPandas|mapInPandas")
    root = pathlib.Path(pdf_extract_spark.__file__).parent
    hits = [f"{p.relative_to(root)}:{i}: {line.strip()}"
            for p in sorted(root.rglob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if pat.search(line)]
    assert not hits, hits


def test_bpe_no_cartesian_no_python(spark):
    """BPE training: the only nested loops are the broadcast 1-row
    merge applications; nothing quadratic, no Python eval nodes (the
    vocab-side HOF lambdas are interpreted but vocab-sized)."""
    from pdf_extract_spark.queries import QUERIES

    for name in ("bpe_merges", "bpe_encode_stats"):
        plan = _physical(QUERIES[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_ingest_lifecycle_append_is_observable(spark):
    """The registered lifecycle query's phase-2 probe must see batch 1
    as corpus: at sf0.001 at least one b2 pair's corpus_id is a batch-1
    doc (doc_id % 10 == 5) — a pair that would NOT exist if the append
    step were dropped.  Phase-1 pairs must never name a batch doc as
    corpus (the bootstrap excludes both batches)."""
    from pdf_extract_spark.operators import dedup

    rows = dedup.ingest_lifecycle(spark, SF_DIR).collect()
    assert rows
    b1 = [r for r in rows if r.phase == "b1"]
    b2 = [r for r in rows if r.phase == "b2"]
    assert all(r.new_id % 10 == 5 and r.corpus_id % 10 not in (0, 5)
               for r in b1)
    assert all(r.new_id % 10 == 0 and r.corpus_id % 10 != 0 for r in b2)
    assert any(r.corpus_id % 10 == 5 for r in b2)  # append mattered


def test_ingest_lifecycle_table_is_per_application_and_dropped(spark):
    """Concurrent applications on one corpus must not share the
    lifecycle's scratch sketch table: its name carries the sanitized
    application id, and the table is gone once the call returns (both
    probes are materialized first, so the result stays readable)."""
    import re

    from pdf_extract_spark.operators import dedup

    table = dedup._ingest_table(spark, SF_DIR)
    app = re.sub(r"\W+", "_", spark.sparkContext.applicationId)
    assert table.endswith("_" + app), (table, app)
    out = dedup.ingest_lifecycle(spark, SF_DIR)
    assert not spark.catalog.tableExists(table)
    assert out.count() > 0


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval-set n-gram side is small by construction and must
    broadcast — a shuffled corpus⋈eval join would shuffle the full
    exploded corpus at 100 TB."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["text_decontaminate"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pii_scrub_is_scan_local(spark):
    """PII detection/redaction is a narrow projection: no join, no
    aggregate, and the only permissible Exchange is the gated
    single-file repartition (never a hash shuffle)."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["text_pii_scrub"](spark, SF_DIR))
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_seq_pack_single_shard_shuffle(spark):
    """Packing shuffles once, keyed on the hash shard — no global sort
    (an Exchange rangepartitioning or SinglePartition would serialize
    the corpus through one total order)."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["seq_pack"](spark, SF_DIR))
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "shard" in plan.split("Exchange hashpartitioning")[1][:80]
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_temperature_sample_broadcasts_quotas(spark):
    """The per-source quota table (one row per host) must broadcast to
    the ranked corpus; the only nested-loop allowed is the single-row
    scalar-totals cross join."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["source_temperature_sample"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # at most the scalar totals row rides a nested loop
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_stratified_split_single_source_shuffle(spark):
    """The split is one source-keyed shuffle + a scan-local case — no
    join, no extra exchange beyond the shared rank window."""
    from pdf_extract_spark.queries import QUERIES

    plan = _physical(QUERIES["stratified_split"](spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
