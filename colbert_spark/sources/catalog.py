"""Index storage layout — the engine's on-disk catalog.

Plain Parquet with an Iceberg-compatible layout (SURVEY.md §7.0: the
sandbox has no Iceberg runtime jar; this module is the single abstraction
point — swap `read`/`write` for `spark.read.table` / `df.writeTo(...)` on a
real cluster and nothing else changes).

Layout under <index_root>/<index_name>/ (analog of the reference's index
directory of {chunk}.codes.pt / ivf.pid.pt / metadata.json,
colbert/indexing/collection_indexer.py:346-356,484-497):

    term_dict/      (term, term_id, df, cf, idf)            small
    corpus_stats/   (num_docs, avg_doclen, num_terms, num_postings)  1 row
    doc_stats/      (pid, doclen)                           1 row/doc
    postings/       bucket=<b>/ part-*.parquet              the index
        (term_id, block_id, first_pid, last_pid, num_postings,
         max_block_score, pids bin, tfs bin, dls bin)
    manifest/       (bucket, input_fingerprint, num_blocks, num_postings,
                     bytes_written, wall_ms, status)        resume/lineage
    metadata.json   config + global stats
    plan.json       build plan (written before work starts; drives resume)

`bucket = pmod(term_id, index_partitions)` (`posting_buckets`) and postings
files are sorted by (term_id, block_id) within each bucket, so query-time
reads prune both at the partition level (bucket=) and the row-group level
(term_id min/max) — through Spark (`read`) or pyarrow (`read_arrow`).
"""

from __future__ import annotations

import json
import os
from pathlib import Path

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

POSTINGS_SCHEMA = (
    "term_id long, block_id long, first_pid long, last_pid long, "
    "num_postings int, max_block_score double, pids binary, tfs binary, "
    "dls binary, enc_bytes int"
)


def posting_buckets(term_ids, index_partitions: int) -> list[int]:
    """The sorted `bucket=` partitions holding these term ids' postings.
    Python's % of a positive modulus is Spark's pmod, so negative
    (xxhash64) ids of appended terms land where the builder wrote them."""
    return sorted({int(t) % index_partitions for t in term_ids})


def tombstone_bounds(catalog, spark: SparkSession) -> DataFrame | None:
    """(pid, before_epoch) of an index's tombstones, or None: the pid's
    postings drop from blocks whose epoch (block_id >> 32) is below
    before_epoch. A pre-epoch (pre-r5) table excludes every epoch —
    coalescing once is the documented migration path, so the folds read
    through here, while IndexUpdater and Searcher reject such a table
    (index_updater.load_tombstones)."""
    if not catalog.table_exists("tombstones"):
        return None
    t = catalog.read(spark, "tombstones")
    if "before_epoch" not in t.columns:
        t = t.withColumn("before_epoch", F.lit(1 << 62))
    return t.select("pid", "before_epoch")


def active_tombstone_pids(catalog, spark: SparkSession) -> DataFrame | None:
    """(pid) of an index's ACTIVE tombstones, or None: rows not re-added
    (readded IS NULL). These docs leave doc_stats when the tombstones
    fold; a re-added pid's newer postings survive the fold, so its row
    stays. A pre-epoch (pre-r5) table has no readded column, so every
    row is active."""
    if not catalog.table_exists("tombstones"):
        return None
    t = catalog.read(spark, "tombstones")
    if "readded" in t.columns:
        t = t.filter(F.col("readded").isNull())
    return t.select("pid")


def collect_tombstones(frames) -> tuple[np.ndarray, np.ndarray]:
    """(sorted pids, aligned before_epochs) of the union of (pid,
    before_epoch) frames (None entries skip), one columnar collect per
    frame — the one tombstone form every reader and fold applies
    (`tombstoned`). A pid listed twice keeps its largest bound. Pid
    spaces of merged sources are disjoint (guarded upstream), so one flat
    union is sound."""
    pids = eps = np.empty(0, dtype=np.int64)
    for t in frames:
        if t is not None:
            pdf = t.select("pid", "before_epoch").toPandas()
            pids = np.append(pids, pdf["pid"].to_numpy(np.int64))
            eps = np.append(eps, pdf["before_epoch"].to_numpy(np.int64))
    order = np.lexsort((eps, pids))
    pids, eps = pids[order], eps[order]
    last = np.ones(pids.size, dtype=bool)
    last[:-1] = pids[1:] != pids[:-1]
    return pids[last], eps[last]


def tombstoned(p: np.ndarray, epochs, tomb) -> np.ndarray:
    """Mask of the postings a tombstone set drops: the pid is tombstoned
    AND the posting's block epoch (block_id >> 32) is below its
    before_epoch, so a re-added pid's newer postings survive. tomb is the
    collect_tombstones pair; epochs is per posting or one scalar."""
    t_pids, t_eps = tomb
    if not t_pids.size:
        return np.zeros(p.size, dtype=bool)
    idx = np.searchsorted(t_pids, p)
    idx[idx == t_pids.size] = 0
    return (t_pids[idx] == p) & (epochs < t_eps[idx])


class IndexCatalog:
    def __init__(self, index_path: str):
        self.root = Path(index_path)

    # --- paths -----------------------------------------------------------
    def path(self, table: str) -> str:
        return str(self.root / table)

    @property
    def metadata_path(self) -> Path:
        return self.root / "metadata.json"

    @property
    def plan_path(self) -> Path:
        return self.root / "plan.json"

    def exists(self) -> bool:
        return self.metadata_path.exists()

    def plan_exists(self) -> bool:
        return self.plan_path.exists()

    def table_exists(self, table: str) -> bool:
        """Cheap existence probe so optional tables (tombstones, manifest)
        don't go through a logged-and-caught AnalysisException."""
        return (self.root / table).exists()

    # --- tables ----------------------------------------------------------
    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.parquet(self.path(table))

    def read_arrow(self, table: str, columns: list[str], filter=None):
        """Driver-local pyarrow read of `columns` under `filter` (a
        pyarrow.dataset expression; hive `bucket=` directories surface as
        a column), no Spark job. The files are listed afresh on every
        call, so Spark's FileStatusCache never applies; a table with no
        data files reads as zero rows. Returns None where the backend has
        no plain-file layout (IcebergIndexCatalog)."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        dataset = ds.dataset(self.path(table), format="parquet",
                             partitioning="hive")
        if not dataset.files:  # e.g. postings of a corpus with no tokens
            return pa.table({c: pa.array([], pa.null()) for c in columns})
        return dataset.to_table(columns=columns, filter=filter)

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))

    def replace(self, df: DataFrame, table: str,
                partition_by: list[str] | None = None) -> None:
        """Atomically-ish swap a table's contents with df (compaction /
        doc_stats rewrite). Parquet: write to <table>_tmp, then rename over
        the old dir — readers between the rmtree and rename can fail, which
        is the known parquet-layout limitation Iceberg's snapshot swap
        removes (IcebergIndexCatalog.replace is truly atomic)."""
        import shutil

        tmp = self.path(f"{table}_tmp")
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if Path(self.path(table)).exists():
            shutil.rmtree(self.path(table))
        Path(tmp).rename(self.path(table))

    def delete_table(self, table: str) -> None:
        import shutil

        if Path(self.path(table)).exists():
            shutil.rmtree(self.path(table))

    def refresh(self, spark: SparkSession) -> None:
        """Drop Spark's cached file listings under the index root — required
        after any rename/delete that mutates files behind the FileStatusCache
        (no-op for a real table catalog, which versions snapshots)."""
        spark.catalog.refreshByPath(str(self.root))

    # --- json sidecars -----------------------------------------------------
    def write_json(self, name: str, obj: dict) -> None:
        """Atomic: write-then-rename, so a crash mid-write can never leave
        a torn sidecar (the stream-append ledger is re-read on every
        micro-batch — a truncated JSON would wedge the stream until
        hand-repaired)."""
        self.root.mkdir(parents=True, exist_ok=True)
        tmp = self.root / f"{name}.{os.getpid()}.tmp"
        tmp.write_text(json.dumps(obj, indent=2, sort_keys=True))
        tmp.replace(self.root / name)

    def read_json(self, name: str) -> dict:
        return json.loads((self.root / name).read_text())

    def delete(self) -> None:
        import shutil

        if self.root.exists():
            shutil.rmtree(self.root)


class IcebergIndexCatalog(IndexCatalog):
    """Iceberg-backed index storage (SURVEY.md §1.1 S13 / §2.9 mapping).

    Selected by make_catalog when ColBERTConfig.iceberg_catalog names a
    configured Spark catalog (spark.sql.catalog.<name> =
    org.apache.iceberg.spark.SparkCatalog). Tables live at
    <catalog>.<namespace>.<table>; JSON sidecars (plan/metadata) stay on
    the filesystem at index_root — they gate resume before any Spark job
    runs. Differences from the parquet layout:

    - replace() is a snapshot swap (createOrReplace) — truly atomic,
      concurrent readers keep the old snapshot (the parquet rename window
      disappears);
    - compaction can additionally use the engine-native
      `CALL <catalog>.system.rewrite_data_files` (compact_files());
    - refresh() is a no-op — snapshot isolation replaces the
      FileStatusCache workarounds;
    - removal is the same as on the parquet layout: tombstones, folded
      by coalesce_index through replace(), so a fold is one snapshot.

    The sandbox has no Iceberg runtime jar, so this class is exercised
    only when one is on the classpath (tests skip otherwise, documented).
    """

    def __init__(self, index_path: str, catalog: str, namespace: str):
        super().__init__(index_path)
        self.catalog_name = catalog
        # iceberg identifiers: letters/digits/underscore
        self.ns = "".join(c if c.isalnum() else "_" for c in namespace)

    def ident(self, table: str) -> str:
        return f"{self.catalog_name}.{self.ns}.{table}"

    def _spark(self) -> SparkSession:
        return SparkSession.getActiveSession()

    def table_exists(self, table: str) -> bool:
        return self._spark().catalog.tableExists(self.ident(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return spark.read.table(self.ident(table))

    def read_arrow(self, table: str, columns: list[str], filter=None):
        return None  # snapshot files are Iceberg's to list — read via Spark

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        import pyspark.sql.functions as F

        w = df.writeTo(self.ident(table))
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append" and self.table_exists(table):
            w.append()
        else:
            w.createOrReplace()

    def replace(self, df: DataFrame, table: str,
                partition_by: list[str] | None = None) -> None:
        self.write(df, table, "overwrite", partition_by)

    def compact_files(self, table: str = "postings") -> None:
        """Engine-native file compaction (small-file merge; orthogonal to
        coalesce_index's logical tombstone fold)."""
        self._spark().sql(
            f"CALL {self.catalog_name}.system.rewrite_data_files"
            f"('{self.ns}.{table}')"
        )

    def delete_table(self, table: str) -> None:
        self._spark().sql(f"DROP TABLE IF EXISTS {self.ident(table)}")

    def refresh(self, spark: SparkSession) -> None:
        pass  # snapshot isolation — nothing to invalidate

    def delete(self) -> None:
        import pyspark.sql.functions as F

        spark = self._spark()
        # the namespace may not exist yet (e.g. a crashed first build left
        # only json sidecars, then overwrite=True deletes before any table
        # write) — SHOW TABLES throws on a missing namespace
        ns_exists = spark.sql(
            f"SHOW NAMESPACES IN {self.catalog_name}"
        ).filter(F.col("namespace") == self.ns).count() > 0
        if not ns_exists:
            super().delete()
            return
        for row in spark.sql(
            f"SHOW TABLES IN {self.catalog_name}.{self.ns}"
        ).collect():
            spark.sql(
                f"DROP TABLE IF EXISTS "
                f"{self.catalog_name}.{self.ns}.{row['tableName']}"
            )
        super().delete()  # json sidecars


def make_catalog(config) -> IndexCatalog:
    """The single selection point between storage backends: Iceberg when
    config.iceberg_catalog names a configured catalog, parquet otherwise."""
    if getattr(config, "iceberg_catalog", ""):
        return IcebergIndexCatalog(
            config.index_path(), config.iceberg_catalog, config.index_name
        )
    return IndexCatalog(config.index_path())
