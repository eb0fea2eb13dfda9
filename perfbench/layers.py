"""Per-layer metrics of the traced run.

Two sources: driver-side probes that call single layers directly while
the session is up (`probe_reads`, `probe_index`), and the Spark event log, attributed to the
spans of public calls once the session has stopped (`from_spans`). The comment
above each group names the end-to-end metric it should move.
"""

from __future__ import annotations

import statistics
import time

import spans
import workloads as wl


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def probe_reads(run: wl.Run, searcher, api, queries: list[str]) -> dict:
    """Read-side probes, right after the reads and before any update."""
    from colbert_spark.functions.codec import decode_pids_auto, decode_tfs_auto
    from colbert_spark.operators import wand
    import pyspark.sql.functions as F

    spark = run.spark
    out: dict[str, float] = {}
    info = api.cache_info()
    out["server.cache_hit_ratio"] = info.hits / max(1, info.hits + info.misses)

    # MaxScore kernel on the driver, over each query's blocks read through
    # the catalog (→ search_p50_s), and the codec's decode rate over the
    # same blocks (→ batch_qps)
    term_dict = searcher.term_dict.select("term", "term_id", "idf")
    postings = searcher.catalog.read(spark, "postings")
    kernel_s, blocks_n, decode_s, decoded = [], [], 0.0, 0
    for q in queries[:8]:
        terms = run.oracle.query_terms(q)
        tids = term_dict.filter(F.col("term").isin(terms)).collect()
        if not tids:
            continue
        buckets = sorted({r["term_id"] % run.cfg.index_partitions for r in tids})
        pdf = (postings.filter(F.col("bucket").isin(buckets))
               .join(F.broadcast(spark.createDataFrame(
                   [(r["term_id"], r["idf"]) for r in tids],
                   "term_id long, idf double")), "term_id")
               .toPandas())
        t = time.perf_counter()
        wand.score_query_blocks(pdf, wl.K, searcher.avgdl,
                                excluded=searcher.tombstones)
        kernel_s.append(time.perf_counter() - t)
        blocks_n.append(len(pdf))
        t = time.perf_counter()
        for pb, tb, db in zip(pdf["pids"], pdf["tfs"], pdf["dls"]):
            decoded += decode_pids_auto(bytes(pb)).size
            decode_tfs_auto(bytes(tb))
            decode_tfs_auto(bytes(db))
        decode_s += time.perf_counter() - t
    out["operators.wand.score_query_blocks_s"] = _median(kernel_s)
    out["operators.wand.candidate_blocks"] = _median(blocks_n)
    out["functions.codec.decode_postings_per_s"] = (
        decoded / decode_s if decode_s else 0.0)
    return out


def probe_index(run: wl.Run) -> dict[str, float]:
    """Build and index probes on the live session, after the workload."""
    from colbert_spark.operators import builder
    from colbert_spark.plans.index_updater import IndexUpdater
    from colbert_spark.sources.catalog import make_catalog
    import pyspark.sql.functions as F

    spark = run.spark
    out: dict[str, float] = {}
    # builder phase split through its public functions (→ setup_s)
    cfg = run.cfg
    t = time.perf_counter()
    tokens = builder.tokenize(run.docs, cfg).persist()
    tokens.count()
    out["operators.builder.tokenize_s"] = time.perf_counter() - t
    t = time.perf_counter()
    agg = builder.term_agg(tokens).persist()
    agg.count()
    out["operators.builder.term_agg_s"] = time.perf_counter() - t
    t = time.perf_counter()
    blocks = builder.build_postings(
        tokens, builder.term_dict_from_agg(agg, wl.NUM_DOCS),
        run.oracle.avgdl, cfg)
    blocks.write.format("noop").mode("overwrite").save()
    out["operators.builder.build_postings_s"] = time.perf_counter() - t
    tokens.unpersist()
    agg.unpersist()

    # codec density from the build manifest (→ index_bytes_per_text_byte)
    cfg_read = type(cfg).from_existing(cfg)
    cfg_read.index_name = "B"
    row = make_catalog(cfg_read).read(spark, "manifest").agg(
        F.sum("bytes_written").alias("b"), F.sum("num_postings").alias("n")
    ).first()
    out["functions.codec.bytes_per_posting"] = row["b"] / row["n"]

    # update debt of index B as the workload left it
    # (→ update_p50_s, and search_p50_s on ingest)
    debt = IndexUpdater("B", spark, cfg).segment_debt()
    out["plans.index_updater.appended_fraction"] = debt["appended_fraction"]
    out["plans.index_updater.tombstones"] = debt["tombstones"]
    out["sources.catalog.postings_files"] = wl.postings_files(
        run.work / "indexes" / "B")
    return out


_SEARCH_KEYS = ("jobs", "tasks", "driver_s", "task_wait_s", "executor_run_s",
                "executor_cpu_s", "input_bytes")
_BATCH_KEYS = ("wall_s", "jobs", "executor_run_s", "core_busy_frac",
               "shuffle_write_bytes", "spill_bytes")


def from_spans(run: wl.Run, jobs: list[spans.JobStats]) -> dict[str, float]:
    """Event-log counters per public call, as medians over calls."""
    calls = run.tracer.spans
    owned = spans.attribute(calls, jobs)
    stats: dict[str, list[dict]] = {}
    for sp in calls:
        st = spans.span_layer_stats(sp, owned.get(sp.sid, []), run.cores)
        st.update(sp.attrs)
        stats.setdefault(sp.name, []).append(st)

    def med(name, key):
        return _median([s[key] for s in stats.get(name, [])])

    out: dict[str, float] = {}
    for key in _SEARCH_KEYS:
        out[f"plans.searcher.search.{key}"] = med("plans.searcher.search", key)
    out["plans.searcher.open_s"] = med("plans.searcher.open", "wall_s")
    for key in _BATCH_KEYS:
        out[f"plans.searcher.search_all.{key}"] = med(
            "plans.searcher.search_all", key)
    # the timed set-up's build
    for key in _BATCH_KEYS:
        out[f"plans.indexer.index.{key}"] = med("plans.indexer.index", key)
    for op in ("remove", "add"):
        for key in ("wall_s", "jobs"):
            out[f"plans.index_updater.{op}.{key}"] = med(
                f"plans.index_updater.{op}", key)
    out["plans.index_updater.add.files_written"] = med(
        "plans.index_updater.add", "files_written")
    out["spark.failed_tasks"] = sum(j.failed_tasks for j in jobs)
    out["operators.wand.scored_pairs"] = _median(run.samples.get("scored_pairs", []))
    return out
