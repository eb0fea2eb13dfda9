"""IndexCatalog backends: parquet layout semantics + Iceberg selection
(SURVEY.md §1.1 S13 / §2.9 — Iceberg-or-equivalent behind one abstraction).

The Iceberg runtime jar is not available in this sandbox, so the
Iceberg-backed write/read path is skipped (documented); the selection
logic and the parquet implementation of the shared contract (replace /
delete_table / refresh) are fully exercised.
"""

from __future__ import annotations

import os

import pytest

from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.sources.catalog import (
    IcebergIndexCatalog,
    IndexCatalog,
    make_catalog,
)


def _has_iceberg_jar() -> bool:
    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return any("iceberg" in j.lower() for j in os.listdir(jars))


def test_make_catalog_selects_backend(tmp_path):
    cfg = ColBERTConfig(index_root=str(tmp_path), index_name="i1")
    cat = make_catalog(cfg)
    assert type(cat) is IndexCatalog

    cfg2 = ColBERTConfig(index_root=str(tmp_path), index_name="my-index.2",
                         iceberg_catalog="lake")
    cat2 = make_catalog(cfg2)
    assert isinstance(cat2, IcebergIndexCatalog)
    # identifier sanitization: catalog.namespace.table, identifier-safe
    assert cat2.ident("postings") == "lake.my_index_2.postings"


def test_parquet_write_from_own_table_and_delete_table(spark, tmp_path):
    cat = IndexCatalog(str(tmp_path / "idx"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "pid long, v string")
    with cat.transaction():
        cat.write(df1, "t")
        cat.commit()
    assert cat.table_exists("t")
    assert cat.current()["version"] == 1
    assert sorted(map(tuple, cat.read(spark, "t").collect())) == \
        [(1, "a"), (2, "b")]
    v1_files = cat.current()["tables"]["t"]["files"]

    # a write derived FROM the table it overwrites (read-modify-write on
    # the same table — the shape IndexUpdater.remove/doc_stats use): the
    # old files stay until the commit, so the read never sees a gap
    merged = cat.read(spark, "t").unionByName(
        spark.createDataFrame([(3, "c")], "pid long, v string")
    )
    with cat.transaction():
        cat.write(merged, "t")
        assert cat.current()["version"] == 1  # nothing visible yet
        cat.commit()
    rec = cat.current()
    assert rec["version"] == 2
    assert not set(rec["tables"]["t"]["files"]) & set(v1_files)
    assert sorted(map(tuple, cat.read(spark, "t").collect())) == \
        [(1, "a"), (2, "b"), (3, "c")]
    # the replaced version's files stay one version for pinned readers
    assert all((tmp_path / "idx" / f).exists() for f in v1_files)

    with cat.transaction():
        cat.delete_table("t")
        cat.commit()
    assert not cat.table_exists("t")
    assert not any((tmp_path / "idx" / f).exists() for f in v1_files)
    with cat.transaction():
        cat.delete_table("t")  # idempotent
        cat.commit()
    assert not cat.table_exists("t")
    assert not (tmp_path / "idx" / "t").exists()


@pytest.mark.skipif(not _has_iceberg_jar(),
                    reason="no Iceberg runtime jar in this sandbox "
                           "(documented skip; SURVEY §7.0)")
def test_iceberg_catalog_roundtrip(spark, tmp_path):
    """Runs only where an Iceberg jar is on the classpath: tables round-trip
    through writeTo/createOrReplace and an overwrite is a snapshot swap."""
    spark.conf.set("spark.sql.catalog.lake",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set("spark.sql.catalog.lake.type", "hadoop")
    spark.conf.set("spark.sql.catalog.lake.warehouse", str(tmp_path / "wh"))
    cat = IcebergIndexCatalog(str(tmp_path / "idx"), "lake", "t1")
    df = spark.createDataFrame([(1, "a")], "pid long, v string")
    cat.write(df, "t")
    assert cat.table_exists("t")
    cat.write(df.unionByName(df), "t")
    assert cat.read(spark, "t").count() == 2
    cat.delete_table("t")
    assert not cat.table_exists("t")


_ICEBERG_JAR = os.environ.get("SPARK_GRAFT_ICEBERG_JAR", "")


@pytest.mark.skipif(not (_ICEBERG_JAR and os.path.exists(_ICEBERG_JAR)),
                    reason="set SPARK_GRAFT_ICEBERG_JAR=/path/to/"
                           "iceberg-spark-runtime-*.jar to run the full "
                           "Iceberg lifecycle contract (no jar offline in "
                           "this sandbox; the snapshot-swap semantics are "
                           "verified by inspection + this test elsewhere)")
def test_iceberg_full_index_lifecycle(tmp_path):
    """The complete Indexer → Searcher → IndexUpdater.remove →
    coalesce_index → re-add cycle through IcebergIndexCatalog, on a
    DEDICATED session with the runtime jar. Proves the semantics the
    in-sandbox suite can only select-test: createOrReplace snapshot swaps
    (write), DROP TABLE (delete_table), the namespace-existence guard in
    delete(), and that rankings through the Iceberg backend equal the
    parquet backend's on the same docs.

    Run this test FILE alone (`pytest tests/test_catalog.py`): the jar
    must be on the classpath at session build, so the test constructs its
    own SparkSession — under the full suite the session-scoped fixture's
    JVM would already be up without the jar and getOrCreate would reuse
    it."""
    import pyspark.sql.functions as F

    from colbert_spark.operators import builder
    from colbert_spark.plans.index_updater import IndexUpdater
    from colbert_spark.plans.indexer import Indexer
    from colbert_spark.plans.searcher import Searcher
    from colbert_spark.session import get_spark

    # get_spark is the single session factory (CLAUDE.md): it exports the
    # repo onto executor PYTHONPATH — without it the applyInPandas kernels
    # fail with ModuleNotFoundError when run from outside the repo root
    spark = get_spark(
        app_name="iceberg-contract", cpus=4, shuffle_partitions=4,
        extra_conf={
            "spark.jars": _ICEBERG_JAR,
            "spark.sql.catalog.lake": "org.apache.iceberg.spark.SparkCatalog",
            "spark.sql.catalog.lake.type": "hadoop",
            "spark.sql.catalog.lake.warehouse": str(tmp_path / "wh"),
        },
    )
    try:
        docs = spark.createDataFrame(
            [(i, f"t{i % 17:05d} t{i % 5:05d} body words {i}")
             for i in range(120)],
            "pid long, text string",
        )
        queries = spark.createDataFrame(
            [(0, "t00001 t00003"), (1, "t00004 body")], "qid long, text string"
        )
        cfg = ColBERTConfig(index_root=str(tmp_path / "idx"),
                            index_name="ic1", iceberg_catalog="lake",
                            index_partitions=4)
        # delete() before any table exists must hit the namespace guard
        make_catalog(cfg).delete()
        Indexer(cfg).index("ic1", docs, overwrite=True)
        before = sorted(map(tuple, Searcher("ic1", spark, cfg)
                            .search_all(queries, k=10).df.collect()))
        victims = sorted({t[1] for t in before})[:2]
        up = IndexUpdater("ic1", spark, cfg)
        up.remove(victims)
        builder.coalesce_index(make_catalog(cfg), cfg, up.avgdl)
        IndexUpdater("ic1", spark, cfg).add(
            docs.filter(F.col("pid").isin(victims)))
        after = sorted(map(tuple, Searcher("ic1", spark, cfg)
                           .search_all(queries, k=10).df.collect()))
        assert after == before
    finally:
        spark.stop()
