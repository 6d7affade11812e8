"""Driver-contract gate, in-repo: every queries() entry vs its DuckDB
oracle at sf0.001 (row count + column names + order-insensitive values),
plus determinism properties the 10^12-doc design depends on.
"""

from __future__ import annotations

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _norm(v):
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(bool(v))
    return repr(v)


def _key(df):
    cols = sorted(df.columns)
    # declared dtypes are part of the key: the driver's value-hash is
    # dtype-sensitive, so a silent DuckDB type promotion (sum(BIGINT)
    # -> HUGEINT -> float64/object in pandas) must fail HERE, not in
    # CORRECTNESS_r{N}.json (r4: text_bm25_topk, seq_pack)
    dtypes = [str(df[c].dtype) for c in cols]
    rows = sorted(tuple(_norm(r[c]) for c in cols)
                  for r in df.to_dict("records"))
    return len(rows), cols, dtypes, rows


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _oracle_names():
    from pdf_extract_spark.queries import ORACLES

    return sorted(ORACLES)


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle(spark, duck, name):
    from pdf_extract_spark.queries import ORACLES, QUERIES
    from pdf_extract_spark.runtime import release_caches

    try:
        sdf = QUERIES[name](spark, SF_DIR).toPandas()
    finally:
        # builder-persisted intermediates have caller-owned lifetime;
        # the real harnesses (check_oracle, bench) release between
        # queries — without this, 51 queries' caches accumulate in one
        # session and the iterative BPE chain tips the test JVM's heap
        release_caches()
    ddf = duck.sql(ORACLES[name]).df()
    assert _key(sdf) == _key(ddf)


def test_registry_covers_oracles():
    from pdf_extract_spark.queries import ORACLES, QUERIES

    assert set(ORACLES) <= set(QUERIES)
    assert "extract_spans_synth" in QUERIES
    # README's registry-count claim — update BOTH when adding queries
    assert len(QUERIES) == 55
    assert len(ORACLES) == 53
    # every non-oracle query is one of the two rows-only extraction
    # pipelines, never a silently-unchecked operator
    assert set(QUERIES) - set(ORACLES) == {
        "extract_spans_synth", "extract_html_synth"}


def test_minhash_subset_of_exact_jaccard(spark):
    """LSH candidates that verify are exactly the exact-jaccard pairs
    that LSH recalled — every LSH pair must appear in the all-pairs
    result (no false positives survive verification)."""
    from pdf_extract_spark.operators import dedup

    exact = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    lsh = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.minhash_lsh_pairs(spark, SF_DIR).collect()
    }
    assert lsh <= exact
    assert len(lsh) >= 0.9 * len(exact)  # banded recall at tau=0.8


def test_dedup_partitioning_invariance(spark):
    """Near-dup pairs must not depend on physical partitioning — the
    repartition(k)-invariance property the scaling claim rests on."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.functions import sqlkit as K
    from pdf_extract_spark.operators.dedup import (
        JACCARD_TAU, SHINGLE_W, _shingled,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = {
        (r.doc_id_a, r.doc_id_b)
        for r in _pairs_from(docs, spark).collect()
    }
    repart = {
        (r.doc_id_a, r.doc_id_b)
        for r in _pairs_from(docs.repartition(13), spark).collect()
    }
    assert base == repart and len(base) > 0


def _pairs_from(docs, spark):
    from pyspark.sql import functions as F

    from pdf_extract_spark.functions import sqlkit as K
    from pdf_extract_spark.operators.dedup import JACCARD_TAU, SHINGLE_W

    sh = K.shingle_hashes("text", SHINGLE_W, K.SPARK)
    s = docs.select("doc_id", F.expr(sh).alias("sh")).withColumn(
        "n_sh", F.expr(K.asize("sh", K.SPARK))
    )
    jac = K.jaccard("a.sh", "b.sh", "a.n_sh", "b.n_sh", K.SPARK)
    return (
        s.alias("a")
        .join(s.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.expr(jac).alias("jacc"),
        )
        .filter(F.col("jacc") >= JACCARD_TAU)
    )


def test_ann_ivf_subset_of_bruteforce(spark):
    """IVF results are the brute-force results restricted to the cell —
    per query, every IVF hit must rank >= its brute-force rank."""
    from pdf_extract_spark.operators import similarity

    bf = similarity.ann_bruteforce_topk(spark, SF_DIR).collect()
    ivf = similarity.ann_ivf_topk(spark, SF_DIR).collect()
    bf_cos = {(r.query_id, r.cand_id): r.cos for r in bf}
    best_bf = {}
    for r in bf:
        best_bf.setdefault(r.query_id, r.cos)
        best_bf[r.query_id] = max(best_bf[r.query_id], r.cos)
    # ivf top-1 cosine can never exceed brute-force top-1
    best_ivf = {}
    for r in ivf:
        best_ivf.setdefault(r.query_id, r.cos)
        best_ivf[r.query_id] = max(best_ivf[r.query_id], r.cos)
    for q, c in best_ivf.items():
        assert c <= best_bf[q] + 1e-12


def test_filter_pushdown_reaches_scan(spark):
    """P3/P4 contract: the predicate and the pruned schema appear in the
    physical parquet scan (PushedFilters / ReadSchema)."""
    from pdf_extract_spark.queries import filter_project

    plan = filter_project(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:200]
    assert "l_tax" not in plan.split("ReadSchema")[1][:300]


def test_broadcast_join_is_broadcast(spark):
    from pdf_extract_spark.queries import broadcast_dim_join

    plan = broadcast_dim_join(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_cluster_apply_plan_shape(spark):
    """VERDICT r1 'done' criterion: the cluster-apply pair must run on
    the LSH edge source with no nested-loop/cartesian stage and no
    forced broadcast of the loser set (AQE decides by size)."""
    from pdf_extract_spark.operators.dedup import (
        dedup_keep_canonical,
        duplicate_clusters,
        minhash_lsh_pairs,
    )

    # edge source itself: equi-joins only
    lsh_plan = minhash_lsh_pairs(spark, SF_DIR)._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in lsh_plan
    assert "CartesianProduct" not in lsh_plan

    surv = dedup_keep_canonical(spark, SF_DIR)
    plan = surv._jdf.queryExecution().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # no forced broadcast hint in the logical plan of the anti-join
    assert "ResolvedHint" not in plan

    clus_plan = (
        duplicate_clusters(spark, SF_DIR)._jdf.queryExecution().toString()
    )
    assert "BroadcastNestedLoopJoin" not in clus_plan
    assert "CartesianProduct" not in clus_plan


def test_readme_registry_counts_do_not_drift():
    """README's registry-count claims are generated facts, not prose:
    assert they equal len(queries())/len(oracle_sql()) so doc drift is
    a test failure (r2 VERDICT found 29/28 claimed vs 35/33 actual)."""
    import re

    import __spark_entry__ as E

    nq, no = len(E.queries()), len(E.oracle_sql())
    readme = open("README.md").read()
    m = re.search(r"(\d+) queries, (\d+) with DuckDB oracles", readme)
    assert m, "README registry line missing"
    assert (int(m.group(1)), int(m.group(2))) == (nq, no)
    m = re.search(r"(\d+)/(\d+) OK \((\d+) oracle \+ (\d+) rows-only\)",
                  readme)
    assert m, "README check_oracle line missing"
    assert int(m.group(1)) == int(m.group(2)) == nq
    assert int(m.group(3)) == no and int(m.group(4)) == nq - no


def test_bitslice_parity_negative_values(spark):
    """sqlkit.bitslice extracts true bit fields in BOTH engines, even
    for negative bigints (real aHash64 uses bit 63) — the property the
    media_phash_neardup banded join depends on."""
    from pyspark.sql import functions as F

    from pdf_extract_spark.functions import sqlkit as K
    from pdf_extract_spark.functions.sqlkit import DUCK, SPARK

    vals = [0, 1, 65535, 65536, (1 << 63) - 1, -1, -(1 << 63),
            -123456789012345]
    df = spark.createDataFrame([(v,) for v in vals], "phash long")
    con = duckdb.connect()
    for sh in (0, 16, 32, 48):
        got_s = [r[0] for r in
                 df.select(F.expr(K.bitslice("phash", sh, 65535, SPARK)))
                 .collect()]
        got_d = [r[0] for r in con.sql(
            "select " + K.bitslice("phash", sh, 65535, DUCK)
            + f" from (select unnest({vals}) as phash)").fetchall()]
        want = [(v >> sh) & 65535 for v in vals]
        assert got_s == got_d == want, sh


def test_containment_prefix_filter_lossless(spark, duck):
    """The prefix-filtered containment join must equal the BRUTE-FORCE
    all-pairs containment — an independent completeness check (the
    registered oracle replays the same prefix plan; this one does not)."""
    from pdf_extract_spark.functions import sqlkit as K
    from pdf_extract_spark.operators import dedup

    got = {
        (r.doc_id_a, r.doc_id_b, r.containment)
        for r in dedup.containment_pairs(spark, SF_DIR).collect()
    }
    cont = K.containment("a.sh", "b.sh", "a.n_sh", "b.n_sh", K.DUCK)
    brute = {
        tuple(row)
        for row in duck.sql(f"""
            with {dedup._SHINGLED_CTE_DUCK}
            select a.doc_id, b.doc_id, {cont}
            from sized a join sized b on a.doc_id < b.doc_id
            where {cont} >= {dedup.CONTAIN_NUM} / {dedup.CONTAIN_DEN}
        """).fetchall()
    }
    assert got == brute and len(got) > 0


def test_jaccard_pairs_subset_of_containment(spark):
    """jaccard >= tau implies containment >= tau (i/(na+nb-i) >= t gives
    i >= t/(1+t)*(na+nb) >= 2t/(1+t)*min >= t*min for t <= 1), so every
    jaccard near-dup pair must also be a containment pair."""
    from pdf_extract_spark.operators import dedup

    jac = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.ngram_jaccard_pairs(spark, SF_DIR).collect()
    }
    cont = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.containment_pairs(spark, SF_DIR).collect()
    }
    assert jac <= cont


def test_source_quota_cap_and_stability(spark):
    """Every source is capped at SOURCE_QUOTA, and the kept set is a
    pure function of (source, doc_id) — identical under repartition."""
    from pdf_extract_spark.functions.textstats import (
        SOURCE_QUOTA, source_quota_sample,
    )

    rows = source_quota_sample(spark, SF_DIR).collect()
    per = {}
    for r in rows:
        per[r.source] = per.get(r.source, 0) + 1
        assert 1 <= r.sample_rank <= SOURCE_QUOTA
    assert per and max(per.values()) <= SOURCE_QUOTA
    again = source_quota_sample(spark, SF_DIR).collect()
    assert {(r.doc_id, r.sample_rank) for r in rows} == \
        {(r.doc_id, r.sample_rank) for r in again}


def test_bm25_rank_contract(spark):
    """Ranks are 1..k with strictly descending-or-tie-broken scores and
    positive integer micro-unit values."""
    from pdf_extract_spark.functions.textstats import BM25_TOPK, bm25_topk

    rows = sorted(bm25_topk(spark, SF_DIR).collect(), key=lambda r: r.rk)
    assert [r.rk for r in rows] == list(range(1, min(BM25_TOPK, len(rows)) + 1))
    assert len(rows) > 0
    for a, b in zip(rows, rows[1:]):
        assert (a.score_u, -a.doc_id) >= (b.score_u, -b.doc_id)
        assert a.score_u > 0


def test_containment_catches_substring_pair_jaccard_misses(spark, tmp_path):
    """The motivating case: doc B embeds ALL of doc A inside a much
    longer text. Jaccard(A,B) is small (size gap), containment is 1.0 —
    the pair must appear in containment_pairs and not in
    ngram_jaccard_pairs. Built corpus also plants a corpus-hot shingle
    (shared boilerplate across every doc) to exercise the prefix
    filter's rarest-first ordering and the positional prune."""
    import itertools

    from pyspark.sql import functions as F

    from pdf_extract_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    filler = " ".join(
        f"w{i} w{i+1} w{i+2}" for i in range(0, 60, 3)
    )
    boiler = "all rights reserved"
    docs = [
        (0, f"{base} {boiler}"),                        # A
        (1, f"{filler} {base} {boiler} {filler}"),      # B contains A
        (2, f"{boiler} completely different text here about nothing"),
        (3, f"{boiler} another unrelated document with its own words"),
    ]
    sf = tmp_path / "sfsub"
    sf.mkdir()
    (spark.createDataFrame(docs, "doc_id long, text string")
     .withColumn("lang", F.lit("en"))
     .coalesce(1)
     .write.parquet(str(sf / "documents.parquet")))

    cont = {(r.doc_id_a, r.doc_id_b): r.containment
            for r in dedup.containment_pairs(spark, str(sf)).collect()}
    jac = {(r.doc_id_a, r.doc_id_b)
           for r in dedup.ngram_jaccard_pairs(spark, str(sf)).collect()}
    assert (0, 1) in cont and cont[(0, 1)] == 1.0
    assert (0, 1) not in jac

    # python brute force over every pair confirms the full result set
    def shingles(text):
        toks = text.split()
        if len(toks) < dedup.SHINGLE_W:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + dedup.SHINGLE_W])
                for i in range(len(toks) - dedup.SHINGLE_W + 1)}

    sets = {d: shingles(t) for d, t in docs}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        c = len(sets[a] & sets[b]) / min(len(sets[a]), len(sets[b]))
        if c >= dedup.CONTAIN_TAU:
            want.add((a, b))
    assert set(cont) == want
