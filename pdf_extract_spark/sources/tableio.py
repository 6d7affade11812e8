"""TableIO: Iceberg when a catalog is configured, parquet warehouse otherwise.

The north rule targets Iceberg tables of interleaved documents with
snapshot-checkpoint resume. This sandbox has no Iceberg runtime jar, so
TableIO keeps one API with two backends (SURVEY.md §7 preamble):

  * iceberg backend — ``df.writeTo(table).append()`` / ``spark.read.table``
    when ``spark.sql.catalog.<name>`` is configured; snapshot semantics are
    Iceberg's own.
  * parquet backend — a directory per table plus a ``_snapshots.jsonl``
    manifest (JSON lines) we maintain: each commit appends a row
    (snapshot_id, the data files it added). The table is the files its
    rows list; others (a crashed write's orphans) are ignored and left
    in place. The first commit writes an empty manifest before any data.
    A directory with no manifest is read whole, and ``write`` refuses
    one that holds parquet files: its files would drop out of the table.

Filesystem access on the parquet backend goes through the JVM Hadoop
``FileSystem`` API (py4j), so the same code serves ``file:``, ``hdfs:``,
``s3a:``, ``abfs:``, ... — the realistic homes for a 100 TB warehouse.
Writes only append, so every committed snapshot stays readable.
Manifest commits are write-temp-then-rename: atomic on HDFS and POSIX;
on object stores rename is copy+delete, which still leaves either the
old or the new complete manifest (never a torn append) — that, plus
the absence of an atomic multi-writer swap, is the documented delta vs
real Iceberg (single-writer assumption, like a Hive table without a
lock service).
"""

from __future__ import annotations

import json
import posixpath
import uuid

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_snapshots.jsonl"


def _has_iceberg_catalog(spark: SparkSession, ref: str) -> bool:
    if "." not in ref:
        return False
    catalog = ref.split(".", 1)[0]
    return bool(spark.conf.get(f"spark.sql.catalog.{catalog}", None))


class _HadoopFS:
    """Thin py4j wrapper over ``org.apache.hadoop.fs.FileSystem`` —
    scheme-aware (file:/hdfs:/s3a:/abfs:), resolved per path."""

    def __init__(self, spark: SparkSession):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._gateway = spark.sparkContext._gateway

    def _path(self, p: str):
        return self._jvm.org.apache.hadoop.fs.Path(p)

    def _fs(self, p: str):
        return self._path(p).getFileSystem(self._conf)

    def listdir(self, p: str) -> list[str]:
        fs, jp = self._fs(p), self._path(p)
        if not fs.exists(jp):
            return []
        return [st.getPath().getName() for st in fs.listStatus(jp)]

    def read_text(self, p: str) -> str | None:
        fs, jp = self._fs(p), self._path(p)
        if not fs.exists(jp):
            return None
        stream = fs.open(jp)
        try:
            # one JVM call for the whole file (commons-io ships with
            # Spark): a per-line BufferedReader loop costs one py4j
            # round trip per manifest row, i.e. O(snapshots) RPCs per
            # read and O(n²) over a table's commit history
            data = self._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream)
            return bytes(data).decode("utf-8")
        finally:
            stream.close()

    def write_text_atomic(self, p: str, text: str) -> None:
        """Write via a temp sibling + overwrite-rename — a reader never
        observes a partially-written OR missing file.  The rename goes
        through ``FileContext.rename(..., Rename.OVERWRITE)``, which is
        a single atomic op on HDFS/POSIX (no delete-then-rename window
        where the manifest does not exist); on object stores it is
        copy-then-delete of a complete object, so readers see the old
        or the new manifest, never neither — the documented delta vs a
        catalog-arbitrated Iceberg swap."""
        tmp = f"{p}.tmp.{uuid.uuid4().hex}"
        fs, jtmp, jdst = self._fs(p), self._path(tmp), self._path(p)
        out = fs.create(jtmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                jdst.toUri(), self._conf)
            rename_cls = getattr(self._jvm.org.apache.hadoop.fs,
                                 "Options$Rename")
            opts = self._gateway.new_array(rename_cls, 1)
            opts[0] = rename_cls.OVERWRITE
            fc.rename(jtmp, jdst, opts)
        except Exception as exc:
            fs.delete(jtmp, False)
            raise IOError(f"manifest rename failed: {tmp} -> {p}") from exc


class TableIO:
    """Read/write interleaved-document tables by path or catalog ref."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._io = _HadoopFS(spark)

    def read(self, ref: str) -> DataFrame:
        """Every committed snapshot's files (no manifest: the directory)."""
        if _has_iceberg_catalog(self.spark, ref):
            return self.spark.read.table(ref)
        rows = self._manifest_rows(ref)
        if rows is None:
            return self.spark.read.parquet(ref)
        return self._read_rows(ref, rows)

    def exists(self, ref: str) -> bool:
        if _has_iceberg_catalog(self.spark, ref):
            try:
                self.spark.read.table(ref).schema
                return True
            except Exception:
                return False
        return bool(self._manifest_rows(ref))

    def write(self, df: DataFrame, ref: str,
              run_id: str | None = None) -> str:
        """Append df to the table as one commit; returns the snapshot
        id."""
        run_id = run_id or uuid.uuid4().hex
        if _has_iceberg_catalog(self.spark, ref):
            writer = df.writeTo(ref)
            if self.exists(ref):
                writer.append()
            else:
                writer.create()
            return run_id
        names = self._io.listdir(ref)
        # an earlier crash's orphan files are in `before`: never adopted
        before = {f for f in names if f.endswith(".parquet")}
        if _MANIFEST not in names:
            if before:
                # another writer's files: committing beside them would
                # hide them from every later read
                raise ValueError(
                    f"{ref} holds parquet files but no {_MANIFEST}; "
                    "TableIO appends only to tables it committed")
            # the manifest comes first, so a crash in this first commit
            # leaves a table whose orphan files are never read
            self._io.write_text_atomic(self._manifest_path(ref), "")
        df.write.mode("append").parquet(ref)
        added = sorted(self._data_files(ref) - before)
        self._append_manifest(ref, run_id, added)
        return run_id

    def read_asof(self, ref: str, snapshot_id: str) -> DataFrame:
        """Time-travel read: the table as of (and including) a committed
        snapshot — Iceberg's ``VERSION AS OF`` on the catalog backend;
        on the parquet backend, the manifest rows up to the requested
        one (each row carries the files its commit added, so older
        snapshots stay readable after later appends — the same
        mechanics as an Iceberg manifest list)."""
        if _has_iceberg_catalog(self.spark, ref):
            return (
                self.spark.read.option("snapshot-id", snapshot_id)
                .table(ref)
            )
        rows = self._manifest_rows(ref) or []
        ids = [r["snapshot_id"] for r in rows]
        if snapshot_id not in ids:
            raise ValueError(
                f"snapshot {snapshot_id!r} not in {ref}/{_MANIFEST}")
        return self._read_rows(ref, rows[:ids.index(snapshot_id) + 1])

    # -- parquet-backend snapshot manifest ----------------------------------
    def _manifest_path(self, ref: str) -> str:
        return posixpath.join(ref, _MANIFEST)

    def _read_rows(self, ref: str, rows: list[dict]) -> DataFrame:
        """The union of the data files the manifest ``rows`` list."""
        files: list[str] = []
        for row in rows:
            if "files" not in row:
                # Manifest rows written before per-commit file tracking
                # cannot be reconstructed — fail loudly rather than
                # silently returning an empty/partial table.
                raise ValueError(
                    f"snapshot {row['snapshot_id']!r} in {ref} predates "
                    "file tracking; the table through it is not "
                    "reconstructible (re-write the table to refresh the "
                    "manifest)")
            files.extend(row["files"])
        if not files:
            return self.spark.read.parquet(ref).limit(0)
        return self.spark.read.parquet(
            *[posixpath.join(ref, f) for f in files])

    def _data_files(self, ref: str) -> set[str]:
        return {f for f in self._io.listdir(ref) if f.endswith(".parquet")}

    def _append_manifest(self, ref: str, run_id: str,
                         files: list[str]) -> None:
        # Manifest rows mirror Iceberg snapshot metadata (documented
        # delta: single-writer, no catalog-arbitrated swap; commit order
        # is append order). Each row records the data files its commit
        # added — what every read resolves. The full manifest is rewritten
        # via temp+rename so a crash mid-commit leaves the previous
        # complete manifest, never a torn line.
        row = json.dumps({"snapshot_id": run_id, "files": files})
        prior = self._io.read_text(self._manifest_path(ref)) or ""
        self._io.write_text_atomic(self._manifest_path(ref),
                                   prior + row + "\n")

    def _manifest_rows(self, ref: str) -> list[dict] | None:
        """The manifest's rows; None when the directory has none."""
        text = self._io.read_text(self._manifest_path(ref))
        if text is None:
            return None
        return [json.loads(line) for line in text.splitlines() if line.strip()]

    def snapshots(self, ref: str) -> list[str]:
        return [r["snapshot_id"] for r in self._manifest_rows(ref) or []]
