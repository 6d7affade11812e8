"""TableIO snapshot manifest: commit tracking + time-travel reads
(parquet backend — the sandbox has no Iceberg jar; the catalog branch
maps 1:1 onto `VERSION AS OF` / option("snapshot-id"))."""

from __future__ import annotations

import os

import pytest


def _ids(df):
    return sorted(r.doc_id for r in df.collect())


def test_snapshot_append_and_time_travel(spark, tmp_path):
    from pdf_extract_spark.sources.tableio import TableIO

    io = TableIO(spark)
    ref = str(tmp_path / "docs_table")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, t string")
    b = spark.createDataFrame([(3, "c")], "doc_id long, t string")

    s1 = io.write(a, ref, run_id="s1")
    s2 = io.write(b, ref, run_id="s2")
    assert io.snapshots(ref) == ["s1", "s2"]

    # current read sees both commits; as-of s1 sees only the first
    assert _ids(io.read(ref)) == [1, 2, 3]
    assert _ids(io.read_asof(ref, s1)) == [1, 2]
    assert _ids(io.read_asof(ref, s2)) == [1, 2, 3]

    with pytest.raises(ValueError):
        io.read_asof(ref, "nope")


def test_run_pipeline_input_asof(spark, tmp_path):
    """--input-asof: a pipeline run over snapshot s1 extracts exactly
    the docs committed in s1, even after a later append."""
    from pdf_extract_spark.plans.pipeline import run_pipeline
    from pdf_extract_spark.sources.corpus import corpus_dataframe
    from pdf_extract_spark.sources.tableio import TableIO

    io = TableIO(spark)
    in_ref = str(tmp_path / "docs_in")
    corpus = corpus_dataframe(spark, 6)
    first = corpus.filter("doc_id < 'doc00000003'")
    rest = corpus.filter("doc_id >= 'doc00000003'")
    n_first = first.count()
    assert 0 < n_first < 6
    io.write(first, in_ref, run_id="s1")
    io.write(rest, in_ref, run_id="s2")

    out_ref = str(tmp_path / "docs_out")
    summary = run_pipeline(spark, in_ref, out_ref, input_asof="s1")
    got = {r.doc_id for r in spark.read.parquet(out_ref).collect()}
    assert got == {r.doc_id for r in first.collect()}
    assert summary["n_docs"] == n_first


@pytest.mark.parametrize("fmt", ["pdf-dir", "warc"])
def test_input_asof_needs_a_table_input(spark, tmp_path, fmt):
    """Only a table has snapshots: ``input_asof`` with a file-directory
    input is refused, not silently dropped."""
    from pdf_extract_spark.plans.pipeline import _read_input
    from pdf_extract_spark.sources.tableio import TableIO

    with pytest.raises(ValueError, match="input_asof"):
        _read_input(spark, TableIO(spark), str(tmp_path), fmt, "s1")


def test_non_posix_scheme_roundtrip(spark, tmp_path):
    """All parquet-backend IO routes through the Hadoop FileSystem API:
    a `file:` URI ref (which os.listdir/os.path cannot see as a
    directory) must behave identically to a bare path — the proof the
    same code serves hdfs:/s3a:/abfs: warehouses."""
    import os

    from pdf_extract_spark.sources.tableio import TableIO, _HadoopFS

    io = TableIO(spark)
    assert isinstance(io._io, _HadoopFS)  # JVM gateway present here
    local = tmp_path / "docs_table"
    ref = "file://" + str(local)
    assert not os.path.isdir(ref)  # the URI itself is opaque to POSIX

    assert not io.exists(ref)
    s1 = io.write(spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, t string"), ref, run_id="s1")
    io.write(spark.createDataFrame(
        [(3, "c")], "doc_id long, t string"), ref, run_id="s2")
    assert io.exists(ref)
    assert io.snapshots(ref) == ["s1", "s2"]
    assert _ids(io.read_asof(ref, s1)) == [1, 2]
    assert _ids(io.read(ref)) == [1, 2, 3]
    # manifest lives inside the table dir, committed via temp+rename
    # with no stray temp files left behind
    names = os.listdir(local)
    assert "_snapshots.jsonl" in names
    assert not [n for n in names if ".tmp." in n]


def test_read_asof_legacy_manifest_row_raises(spark, tmp_path):
    """Manifest rows from before per-commit file tracking (no `files`
    key) make the table non-reconstructible — read_asof and read must
    fail loudly, not return an empty, partial or uncommitted table."""
    import json

    from pdf_extract_spark.sources.tableio import TableIO

    io = TableIO(spark)
    ref = str(tmp_path / "docs_table")
    io.write(spark.createDataFrame([(1, "a")], "doc_id long, t string"),
             ref, run_id="s1")
    io.write(spark.createDataFrame([(2, "b")], "doc_id long, t string"),
             ref, run_id="s2")
    # rewrite s1's row as a legacy row (files key absent)
    path = f"{ref}/_snapshots.jsonl"
    rows = [json.loads(line) for line in open(path)]
    del rows[0]["files"]
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    # the out-of-band rewrite invalidates Hadoop LocalFileSystem's CRC
    # sidecar; a legacy manifest predates the sidecar entirely
    crc = f"{ref}/._snapshots.jsonl.crc"
    if os.path.exists(crc):
        os.remove(crc)

    with pytest.raises(ValueError, match="predates file tracking"):
        io.read_asof(ref, "s1")
    with pytest.raises(ValueError, match="predates file tracking"):
        io.read_asof(ref, "s2")  # union through s1 is equally unknowable
    # the current state is the union through the last snapshot: the same
    with pytest.raises(ValueError, match="predates file tracking"):
        io.read(ref)


def test_manifest_commit_is_atomic_rename(spark, tmp_path, monkeypatch):
    """A crash mid-manifest-write leaves the previous complete manifest:
    the temp file is written fully before the rename swaps it in."""
    from pdf_extract_spark.sources.tableio import TableIO, _HadoopFS

    io = TableIO(spark)
    ref = str(tmp_path / "docs_table")
    io.write(spark.createDataFrame([(1, "a")], "doc_id long, t string"),
             ref, run_id="s1")

    # crash injected between temp write and rename
    real = _HadoopFS.write_text_atomic

    def boom(self, p, text):
        raise RuntimeError("injected crash before rename")

    monkeypatch.setattr(_HadoopFS, "write_text_atomic", boom)
    with pytest.raises(RuntimeError):
        io.write(spark.createDataFrame(
            [(2, "b")], "doc_id long, t string"), ref, run_id="s2")
    monkeypatch.setattr(_HadoopFS, "write_text_atomic", real)

    # the previous manifest is intact and readable; the failed commit's
    # snapshot never appears (its data files are orphans, as in Iceberg
    # before a snapshot commit lands)
    assert io.snapshots(ref) == ["s1"]
    assert _ids(io.read_asof(ref, "s1")) == [1]
    # the current state is the committed one: the orphan file is ignored
    assert _ids(io.read(ref)) == [1]


def test_table_without_manifest_is_read_whole(spark, tmp_path):
    """A directory some other writer produced (no manifest) is read
    whole, but is not a table TableIO committed."""
    from pdf_extract_spark.sources.tableio import TableIO

    io = TableIO(spark)
    ref = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a"), (2, "b")],
                          "doc_id long, t string").write.parquet(ref)
    assert _ids(io.read(ref)) == [1, 2]
    assert not io.exists(ref)
    assert io.snapshots(ref) == []


class _StubWriter:
    def __init__(self):
        self.calls = []

    def append(self):
        self.calls.append("append")
        raise RuntimeError("injected append failure")

    def create(self):
        self.calls.append("create")


class _StubFrame:
    def __init__(self):
        self.writer = _StubWriter()

    def writeTo(self, ref):
        return self.writer


@pytest.mark.parametrize("exists", [True, False])
def test_catalog_write_appends_or_creates(spark, monkeypatch, exists):
    """The catalog backend appends to an existing table and lets the
    append's error reach the caller; it creates only a missing table."""
    from pdf_extract_spark.sources.tableio import TableIO

    monkeypatch.setattr(TableIO, "exists", lambda self, ref: exists)
    spark.conf.set("spark.sql.catalog.stubcat", "org.example.StubCatalog")
    try:
        df = _StubFrame()
        if exists:
            with pytest.raises(RuntimeError, match="injected append"):
                TableIO(spark).write(df, "stubcat.db.docs", run_id="s1")
            assert df.writer.calls == ["append"]
        else:
            assert TableIO(spark).write(df, "stubcat.db.docs",
                                        run_id="s1") == "s1"
            assert df.writer.calls == ["create"]
    finally:
        spark.conf.unset("spark.sql.catalog.stubcat")


def test_write_refuses_a_directory_without_manifest(spark, tmp_path):
    """Parquet files another writer left, with no manifest: ``write``
    raises before it writes anything, so ``read`` still sees them."""
    from pdf_extract_spark.sources.tableio import TableIO

    io = TableIO(spark)
    ref = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a")], "doc_id long, t string") \
        .write.parquet(ref)
    before = sorted(os.listdir(ref))
    with pytest.raises(ValueError, match="no _snapshots.jsonl"):
        io.write(spark.createDataFrame([(2, "b")], "doc_id long, t string"),
                 ref)
    assert sorted(os.listdir(ref)) == before
    assert _ids(io.read(ref)) == [1]


def test_first_commit_crash_leaves_an_empty_table(spark, tmp_path,
                                                  monkeypatch):
    """The first commit writes an empty manifest before its data: if its
    manifest row then fails, the table has no snapshot, reads empty
    and takes the next commit."""
    from pdf_extract_spark.sources.tableio import TableIO

    io = TableIO(spark)
    ref = str(tmp_path / "docs_table")

    def boom(self, ref, run_id, files):
        raise RuntimeError("injected crash before the manifest row")

    with monkeypatch.context() as m:
        m.setattr(TableIO, "_append_manifest", boom)
        with pytest.raises(RuntimeError):
            io.write(spark.createDataFrame(
                [(1, "a")], "doc_id long, t string"), ref, run_id="s1")
    assert not io.exists(ref) and io.snapshots(ref) == []
    assert _ids(io.read(ref)) == []
    io.write(spark.createDataFrame([(2, "b")], "doc_id long, t string"),
             ref, run_id="s2")
    assert io.snapshots(ref) == ["s2"]
    assert _ids(io.read(ref)) == [2]
