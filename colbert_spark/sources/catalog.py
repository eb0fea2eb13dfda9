"""Index storage layout — the engine's on-disk catalog.

Plain Parquet with an Iceberg-compatible layout (SURVEY.md §7.0: the
sandbox has no Iceberg runtime jar; this module is the single abstraction
point — swap `read`/`write` for `spark.read.table` / `df.writeTo(...)` on a
real cluster and nothing else changes).

Layout under <index_root>/<index_name>/ (analog of the reference's index
directory of {chunk}.codes.pt / ivf.pid.pt / metadata.json,
colbert/indexing/collection_indexer.py:346-356,484-497):

    term_dict/      (term, term_id, df, cf, idf)            small
    doc_stats/      (pid, doclen)                           1 row/doc
    postings/       bucket=<b>/ part-*.parquet              the index
        (term_id, block_id, first_pid, last_pid, num_postings,
         max_block_score, pids bin, tfs bin, dls bin)
    tombstones/     (pid, before_epoch, readded)            removals
    manifest/       (bucket, input_fingerprint, num_blocks, num_postings,
                     bytes_written, wall_ms, status)        resume/lineage
    metadata.json   the commit point: config, global stats, a version
                    number and each table's files and schema
    plan.json       build plan (written before work starts; drives resume)

`bucket = pmod(term_id, index_partitions)` (`posting_buckets`) and postings
files are sorted by (term_id, block_id) within each bucket, so query-time
reads prune both at the partition level (bucket=) and the row-group level
(term_id min/max) — through Spark (`read`) or pyarrow (`read_arrow`).

One commit point: a version of the index is one metadata.json, listing
each table's data files (relative to the index root). Listed files are
immutable. `write` only adds part files and stages the table's next list
(new files alone, or after the current ones for an append), and `commit`
renames the next metadata.json into place — the only moment a change
becomes visible. So a write may read the table it replaces, and a crashed
write publishes nothing. A catalog reads its pinned version (`pin`, as a
Searcher does), else the current one under its own staged writes. A
commit deletes the data files (and .crc siblings) that neither it nor the
version it replaces lists: one version of grace for pinned readers, and
the sweep of a crashed write's files. One writer per index.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager
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
    """(pid, before_epoch, readded) of the tombstones in the version the
    catalog reads, or None — the one tombstone reader. A pid's postings
    drop from blocks whose epoch (block_id >> 32) is below before_epoch;
    rows with readded NULL are the active removals, whose doc_stats rows
    go when a fold (coalesce_index, merge_indexes) drops the tombstones."""
    if not catalog.table_exists("tombstones"):
        return None
    return catalog.read(spark, "tombstones").select(
        "pid", "before_epoch", "readded")


def drop_removed(df: DataFrame, tombs: DataFrame | None) -> DataFrame:
    """df minus the pids `tombs` (tombstone_bounds) actively removes."""
    if tombs is None:
        return df
    gone = tombs.filter(F.col("readded").isNull()).select("pid")
    return df.join(gone, "pid", "left_anti")


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
        self.pinned: dict | None = None
        self._staged: dict[str, dict | None] = {}
        self._deleted_version = 0

    # --- paths -----------------------------------------------------------
    def path(self, table: str) -> str:
        return str(self.root / table)

    @property
    def metadata_path(self) -> Path:
        return self.root / "metadata.json"

    def exists(self) -> bool:
        return self.metadata_path.exists()

    def plan_exists(self) -> bool:
        return (self.root / "plan.json").exists()

    # --- versions ----------------------------------------------------------
    def current(self) -> dict:
        """The committed metadata.json. An index written before it listed
        its files is rejected: there is no version to read."""
        rec = self.read_json("metadata.json")
        if "tables" not in rec:
            raise ValueError(
                f"index {self.root} predates per-version file lists in "
                "metadata.json; rebuild it (Indexer.index(..., "
                "overwrite=True))")
        return rec

    def record(self) -> dict:
        """The version read: the pinned one, else the current one."""
        if self.pinned is not None:
            return self.pinned
        return self.current() if self.exists() else {}

    def pin(self, record: dict | None = None) -> dict:
        """Read `record` (default: the current version) from now on."""
        self.pinned = self.current() if record is None else record
        return self.pinned

    def relist(self) -> dict:
        """The record a resume repairs: each table of the current version,
        relisted from disk (schema inferred) when a listed file is lost;
        every table on disk before the first commit."""
        cur = self.exists() and self.read_json("metadata.json").get("tables")
        tables = {}
        for t, kept in (cur or {p.name: None for p in self.root.glob("*/")}
                        ).items():
            if kept and all((self.root / f).exists() for f in kept["files"]):
                tables[t] = kept
            elif files := self._listing(t):
                tables[t] = {"files": files, "schema": None}
        return {"tables": tables}

    def _listing(self, table: str) -> list[str]:
        """A table directory's data files, as Spark lists them."""
        base = self.root / table
        return sorted(
            str(p.relative_to(self.root)) for p in base.rglob("*.parquet")
            if not any(s[0] in "._" for s in p.relative_to(base).parts))

    def _tables(self) -> dict:
        """table → {files, schema}: the record's under the staged writes."""
        tables = {**self.record().get("tables", {}), **self._staged}
        return {t: v for t, v in tables.items() if v is not None}

    def _table(self, table: str) -> dict:
        if (t := self._tables().get(table)) is None:
            raise FileNotFoundError(f"{self.root}: no table {table!r}")
        return t

    def table_exists(self, table: str) -> bool:
        return table in self._tables()

    @contextmanager
    def transaction(self):
        """Stage writes for a commit() inside; an exception drops them."""
        self._staged = {}
        try:
            yield
        finally:
            self._staged = {}

    def commit(self, **fields) -> dict:
        """Publish the staged tables and `fields` over the version read as
        the next version (one rename), then delete the data files neither
        it nor the version it replaces lists. Unpins."""
        prev = self.read_json("metadata.json") if self.exists() else {}
        rec = {k: v for k, v in self.record().items()
               if k not in ("version", "tables")}
        rec.update(fields)
        rec["version"] = max(prev.get("version", 0),
                             self._deleted_version) + 1
        rec["tables"] = self._tables()
        self.write_json("metadata.json", rec)
        self._staged, self.pinned = {}, None
        keep = {f for r in (rec, prev)
                for t in r.get("tables", {}).values() for f in t["files"]}
        for f in self.root.glob("*/**/*.parquet"):
            if str(f.relative_to(self.root)) not in keep:
                f.unlink()
                f.with_name(f".{f.name}.crc").unlink(missing_ok=True)
        for d in list(self.root.glob("*/")):  # a dropped table's
            if not any(d.rglob("*.parquet")):
                shutil.rmtree(d)
        return rec

    # --- tables ----------------------------------------------------------
    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The table in the version read, from its listed files only
        (basePath keeps `bucket=` a column). The recorded schema spares
        Spark's schema-inference job."""
        t = self._table(table)
        if not t["files"]:
            return spark.createDataFrame([], t["schema"])
        reader = spark.read.option("basePath", self.path(table))
        if t["schema"]:
            reader = reader.schema(t["schema"])
        return reader.parquet(*(str(self.root / f) for f in t["files"]))

    def read_arrow(self, table: str, columns: list[str], filter=None):
        """Driver-local pyarrow read of `columns` under `filter` (a
        pyarrow.dataset expression; hive `bucket=` directories surface as
        a column) over the version's listed files, no Spark job; a table
        with no data files reads as zero rows. Returns None where the
        backend has no plain-file layout (IcebergIndexCatalog)."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        files = self._table(table)["files"]
        if not files:  # e.g. postings of a corpus with no tokens
            return pa.table({c: pa.array([], pa.null()) for c in columns})
        dataset = ds.dataset([str(self.root / f) for f in files],
                             format="parquet", partitioning="hive",
                             partition_base_dir=self.path(table))
        return dataset.to_table(columns=columns, filter=filter)

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        """Add df's rows as new part files and stage the table's next file
        list: new files alone, or after the current ones for an append."""
        before = set(self._listing(table))
        w = df.write.mode("append")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        new = [f for f in self._listing(table) if f not in before]
        cur = self._tables().get(table)
        kept = cur["files"] if mode == "append" and cur else []
        self._staged[table] = {
            "files": kept + new,
            "schema": ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                                for f in df.schema.fields),
        }

    def delete_table(self, table: str) -> None:
        self._staged[table] = None

    # --- json sidecars -----------------------------------------------------
    def write_json(self, name: str, obj: dict) -> None:
        """Atomic: write-then-rename, so a crash mid-write can never leave
        a torn sidecar (the stream-append ledger is re-read on every
        micro-batch — a truncated JSON would wedge the stream until
        hand-repaired)."""
        self.root.mkdir(parents=True, exist_ok=True)
        tmp = self.root / f"{name}.{os.getpid()}.tmp"
        tmp.write_text(json.dumps(obj, indent=2, sort_keys=True))
        tmp.rename(self.root / name)  # atomic; overwrites on POSIX

    def read_json(self, name: str) -> dict:
        return json.loads((self.root / name).read_text())

    def delete(self) -> None:
        """Remove the index; the next commit continues its versions."""
        if self.exists():
            self._deleted_version = self.read_json(
                "metadata.json").get("version", 0)
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

    - its writes keep their own commit path: each `write` is an Iceberg
      commit (createOrReplace / append), a snapshot swap that concurrent
      readers do not see mid-way, and `delete_table` drops the table;
      metadata.json carries the version and stats, but no file lists;
    - removal is the same as on the parquet layout: tombstones, folded
      by coalesce_index.

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
        w = df.writeTo(self.ident(table))
        if partition_by:
            w = w.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "append" and self.table_exists(table):
            w.append()
        else:
            w.createOrReplace()

    def delete_table(self, table: str) -> None:
        self._spark().sql(f"DROP TABLE IF EXISTS {self.ident(table)}")

    def delete(self) -> None:
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
