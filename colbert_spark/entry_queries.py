"""Driver-facing query registry: every implemented operator as a
(spark_callable, oracle_sql) pair over /root/testdata parquet tables.

The DuckDB oracle and the Spark implementation share ONE tokenization rule
(functions/analysis.TOKEN_SPLIT_RE) and ONE BM25 definition
(functions/bm25: k1=1.2 b=0.75, Lucene idf, float64, round-6-then-rank,
(-score, pid) tiebreak). Aggregates that sum many doubles are rounded so
ULP-level summation-order differences between engines can't flip hashes.

Non-SQL-expressible ops (MinHash/SimHash/LSH — they depend on xxhash64,
which DuckDB doesn't have) appear in QUERIES without an ORACLE entry; the
driver records a rows-only check for those, and tests/test_pipeline_ops.py
carries their property-based verification instead.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from colbert_spark.functions import analysis, bm25
from colbert_spark.operators import (
    brute,
    dedup,
    metrics,
    multimodal,
    similarity,
    textstats,
)

# ---------------------------------------------------------------------------
# fixed literal retrieval query set (terms from the testdata vocabulary;
# q8 carries an out-of-vocabulary term to exercise the empty-postings path)
# ---------------------------------------------------------------------------
QUERY_SET: list[tuple[int, str]] = [
    (0, "scan filter join"),
    (1, "window order sort"),
    (2, "spark query data stream"),
    (3, "the fast key"),
    (4, "merge hash table"),
    (5, "customer line value batch"),
    (6, "group row small slow"),
    (7, "vector big dup"),
    (8, "agg column part zzabsent"),
]

K1, B = bm25.K1, bm25.B


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _query_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(QUERY_SET, "qid long, text string")


# ---- shared SQL fragments (DuckDB) ----------------------------------------

def _sql_tokens(col: str, maxlen: int) -> str:
    return (
        f"list_slice(list_filter(regexp_split_to_array(lower({col}), "
        f"'[^a-z0-9]+'), x -> x <> ''), 1, {maxlen})"
    )


def _sql_values() -> str:
    return ", ".join(f"(CAST({q} AS BIGINT), '{t}')" for q, t in QUERY_SET)


_SQL_CORPUS_CTES = f"""
d AS (SELECT doc_id AS pid, {_sql_tokens('text', 220)} AS terms FROM documents),
dl AS (SELECT pid, len(terms) AS doclen FROM d),
tok AS (SELECT pid, unnest(terms) AS term FROM d),
tf AS (SELECT pid, term, count(*) AS tf FROM tok GROUP BY pid, term),
stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df, sum(tf) AS cf FROM tf GROUP BY term),
q(qid, text) AS (VALUES {_sql_values()}),
qt AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term FROM q)
"""

_SQL_BM25_SCORED = f"""
scored AS (
  SELECT qt.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM qt
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY qt.qid, tf.pid
),
ranked AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS rank
  FROM scored
)
"""


# ---------------------------------------------------------------------------
# Spark implementations
# ---------------------------------------------------------------------------

def q_bm25_top10(spark, sf_dir):
    """Flagship: all-queries BM25 top-10 (Searcher.search_all semantics)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    out = brute.bm25_topk(docs, _query_df(spark), k=10)
    return out.select("qid", "pid", F.col("rank").cast("long").alias("rank"), "score")


def q_term_stats(spark, sf_dir):
    """Term dictionary (A5 analog): top 50 terms by (df desc, term)."""
    token_df = analysis.tokenize_docs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", maxlen=220
    )
    return (
        brute.term_stats(token_df.withColumnRenamed("doc_id", "pid"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


def q_corpus_stats(spark, sf_dir):
    """Global index statistics (S9 analog): N, avgdl, vocab, postings.

    Per-doc stats come straight from documents (analysis.doclen), not from
    the exploded token table — a doc that tokenizes to zero tokens still
    counts toward N/avgdl (matches the oracle's dl CTE and the Indexer)."""
    docs = _docs(spark, sf_dir)
    token_df = analysis.tokenize_docs(
        docs, id_col="doc_id", text_col="text", maxlen=220
    )
    per_doc = docs.select(analysis.doclen("text", 220).alias("doclen"))
    a = per_doc.agg(
        F.count(F.lit(1)).alias("num_docs"),
        F.round(F.avg("doclen"), 6).alias("avg_doclen"),
    )
    b = token_df.agg(
        F.countDistinct("term").alias("num_terms"),
        F.count(F.lit(1)).alias("num_postings"),
    )
    return a.crossJoin(b)


def q_term_topk_tf(spark, sf_dir):
    """Posting-list head for one term (T5/J1 analog): top 20 docs by tf."""
    token_df = analysis.tokenize_docs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", maxlen=220
    )
    return (
        token_df.filter(F.col("term") == "scan")
        .select(F.col("doc_id").alias("pid"), "tf",
                F.col("doclen").cast("long").alias("doclen"))
        .orderBy(F.desc("tf"), F.asc("pid"))
        .limit(20)
    )


def q_candidates_per_query(spark, sf_dir):
    """Candidate generation (J1): per query, #docs sharing ≥1 term."""
    token_df = analysis.tokenize_docs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", maxlen=220
    )
    qterms = brute.query_terms(_query_df(spark), 32)
    return (
        token_df.join(F.broadcast(qterms), "term")
        .groupBy("qid")
        .agg(F.countDistinct("doc_id").alias("num_candidates"))
    )


def q_softmax_top10(spark, sf_dir):
    """Server-style softmax probs over top-k scores (A9, server.py:27-28)."""
    ranked = q_bm25_top10(spark, sf_dir)
    w = Window.partitionBy("qid")
    return ranked.select(
        "qid", "pid", "rank",
        F.round(F.exp("score") / F.sum(F.exp("score")).over(w), 6).alias("prob"),
    )


def q_eval_mrr10(spark, sf_dir):
    """Eval harness (A8): MRR@10 of BM25 vs tf-top1 pseudo-qrels."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    token_df = analysis.tokenize_docs(docs, id_col="pid", text_col="text", maxlen=220)
    qterms = brute.query_terms(_query_df(spark), 32)
    tfsum = (
        token_df.join(F.broadcast(qterms), "term")
        .groupBy("qid", "pid")
        .agg(F.sum("tf").alias("tfs"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("tfs"), F.asc("pid"))
    qrels = tfsum.withColumn("r", F.row_number().over(w)).filter(F.col("r") == 1) \
                 .select("qid", "pid")
    ranking = q_bm25_top10(spark, sf_dir)
    return metrics.mrr_at_k(ranking, qrels, k=10)


def q_ranking_shard_merge(spark, sf_dir):
    """Ranked-list merge (T6, utility/rankings/merge.py): per-pid-shard
    top-10 lists unioned, re-ranked, depth-cut to 10."""
    full = q_bm25_top10(spark, sf_dir).drop("rank")
    shard_a = full.filter(F.col("pid") < 250)
    shard_b = full.filter(F.col("pid") >= 250)

    def rerank(df):
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("pid"))
        return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)

    merged = rerank(shard_a).drop("rank").unionByName(rerank(shard_b).drop("rank"))
    return rerank(merged).select("qid", "pid",
                                 F.col("rank").cast("long").alias("rank"), "score")


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_summary(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 2-gram Jaccard near-dup pairs over a doc subset."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return dedup.ngram_jaccard_pairs(docs, n=2, threshold=0.2)


def q_doc_fingerprint(spark, sf_dir):
    return textstats.doc_fingerprint(_docs(spark, sf_dir).filter(F.col("doc_id") < 100))


def q_quality_score(spark, sf_dir):
    return textstats.quality_features(_docs(spark, sf_dir).filter(F.col("doc_id") < 200))


def q_lang_id(spark, sf_dir):
    return textstats.lang_id_heuristic(_docs(spark, sf_dir).filter(F.col("doc_id") < 200))


def q_token_count_by_source(spark, sf_dir):
    return textstats.token_counts_by(_docs(spark, sf_dir), "source")


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source sampling (the pretraining data-mixing
    knob): keep 100% of src0, 50% of src1, 25% of src2, 10% elsewhere —
    shuffle-free hash-threshold filter, identical rows at any
    parallelism."""
    from colbert_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _docs(spark, sf_dir),
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_fraction=0.1, portable_hash=True,
    ).select("doc_id", "source")


def q_pack_sequences(spark, sf_dir):
    """Concatenate-and-slice sequence packing (T5/GPT pretraining layout)
    over 8 hash-assigned streams at a 512-token budget."""
    from colbert_spark.operators.packing import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), budget=512, n_streams=8,
                          portable_hash=True)


def q_curate_corpus(spark, sf_dir):
    """End-to-end curation funnel over the FULL documents table: exact
    dedup keep-first → quality gate → English-only — one tokenize pass,
    the shape a 100-TB training-data pipeline runs before indexing."""
    from colbert_spark.operators.curation import curate_corpus

    return curate_corpus(_docs(spark, sf_dir), require_lang="en")


def q_ann_cosine_top5(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.cosine_topk_brute(emb, queries, k=5)


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: binary payload → typed feature rows (decode
    stubbed; see operators/multimodal.py). Oracle checks the SQL-reachable
    columns (n_bytes from the utf-8 payload)."""
    blobs = multimodal.attach_blob(_docs(spark, sf_dir).filter(F.col("doc_id") < 100))
    return multimodal.extract_features(blobs).select("doc_id", "n_bytes", "width",
                                                     "height")


def q_tpch_q1_pricing(spark, sf_dir):
    """TPC-H Q1 shape: scan + filter pushdown + grouped agg (S1/F/A4)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_revenue_by_nation(spark, sf_dir):
    """Join chain with broadcast dims (J-coverage): lineitem ⋈ orders ⋈
    customer ⋈ nation, revenue per nation."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_top_orders_per_customer(spark, sf_dir):
    """Window top-3 (§2.5): highest-value orders per customer < 50."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def q_events_hourly(spark, sf_dir):
    """Event-time windowed agg (batch analog of the streaming rollup)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.hour("ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


#: fixture-scaled sample size (reference default --sample 1500 of the dev
#: set; here 3 of the 9-query fixture)
_SUBSAMPLE_K = 3


def _subsample_qids() -> list[int]:
    """The reference's exact seeded selection (dev_subsample.py:33 seeds
    12345, :18 random.sample over the qid-ordered list): sample positions
    over qid order — identical to sources.tuning.split_queries_holdout."""
    import random

    qids = [q for q, _ in sorted(QUERY_SET)]
    picked = random.Random(12345).sample(range(len(qids)), _SUBSAMPLE_K)
    return sorted(qids[i] for i in picked)


def q_query_subsample(spark, sf_dir):
    """Dev subsample (T7, utility/rankings/dev_subsample.py:11-29):
    seed-12345 random.sample over the qid-ordered query list — the
    reference's exact rule, via split_queries_holdout (sources/tuning.py),
    scaled to the fixture (3 of 9). Keeps every ranking row of the picked
    qids (the reference emits the full qid2rankings group per sampled qid,
    :20-25)."""
    from colbert_spark.sources.tuning import split_queries_holdout

    _, sampled = split_queries_holdout(
        _query_df(spark), holdout=_SUBSAMPLE_K, seed=12345
    )
    ranking = q_bm25_top10(spark, sf_dir)
    return ranking.join(F.broadcast(sampled.select("qid")), "qid",
                        "left_semi")


def q_flipr_topterms(spark, sf_dir):
    """flipr-style interaction (A2, colbert/modeling/colbert.py:139-152):
    per (query, doc) sum only the TOP-3 term scores (not all), then rank.
    Lexical analog of 'top-K1 sum over the query part'."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    token_df = analysis.tokenize_docs(docs, id_col="pid", text_col="text", maxlen=220)
    n, avgdl = brute.corpus_stats(token_df)
    tstats = brute.term_stats(token_df)
    qterms = brute.query_terms(_query_df(spark), 32)
    qt = qterms.join(tstats, "term").select(
        "qid", "term", bm25.idf(F.col("df"), n).alias("idf")
    )
    scored = token_df.join(F.broadcast(qt), "term").select(
        "qid", "pid",
        bm25.term_score(F.col("tf"), F.col("doclen"), avgdl, F.col("idf")).alias("s"),
    )
    top3sum = (
        scored.groupBy("qid", "pid")
        .agg(F.sort_array(F.collect_list("s"), asc=False).alias("ss"))
        .select(
            "qid", "pid",
            F.round(
                F.aggregate(F.slice("ss", 1, 3), F.lit(0.0), lambda a, x: a + x), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("pid"))
    return (
        top3sum.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("qid", "pid", "rank", "score")
    )


#: fixed answer strings for the EM harness (X7) — substring of some docs
ANSWER_SET: list[tuple[int, str]] = [
    (0, "scan filter"),
    (1, "window order"),
    (2, "query data"),
    (3, "fast key"),
]


def q_answer_em(spark, sf_dir):
    """DPR-style answer exact-match (X7, utility/utils/dpr.py; used by
    e2e_test.py:52) + collection point lookup (J5): for each query, does
    any top-5 doc contain the answer string? → success rate."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    ranking = q_bm25_top10(spark, sf_dir).filter(F.col("rank") <= 5)
    answers = spark.createDataFrame(ANSWER_SET, "qid long, answer string")
    hit = (
        ranking.join(F.broadcast(answers), "qid")
        .join(docs, "pid")
        .select(
            "qid",
            F.when(
                F.contains(F.lower("text"), F.lower("answer")), 1.0
            ).otherwise(0.0).alias("h"),
        )
        .groupBy("qid")
        .agg(F.max("h").alias("hit"))
    )
    return answers.select("qid").join(hit, "qid", "left").fillna({"hit": 0.0}) \
                  .agg(F.round(F.avg("hit"), 6).alias("success_em5"))


def q_annotate_em_dpr(spark, sf_dir):
    """Full annotate_EM harness (utility/evaluate/annotate_EM.py +
    utility/utils/dpr.py): DPR-normalize passages and answers (NFD +
    letter/digit/mark runs or single non-space chars, lowercased), label
    the BM25 top-10 by token-subsequence containment, report
    success@{1,5,10} and counts@{1,5,10} over the judged queries."""
    from colbert_spark.functions import dpr

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    ranking = q_bm25_top10(spark, sf_dir).select("qid", "pid", "rank")
    answers = spark.createDataFrame(ANSWER_SET, "qid long, answer string")
    labeled = dpr.annotate_ranking(ranking, docs, answers)
    return dpr.em_metrics(labeled, cutoffs=(1, 5, 10))


def q_doclen_quantiles(spark, sf_dir):
    """Distribution calibration (A6 analog — residual bucket quantiles,
    collection_indexer.py:314-339): exact doclen percentiles."""
    per_doc = _docs(spark, sf_dir).select(
        analysis.doclen("text", 220).alias("doclen")
    )
    return per_doc.agg(
        F.round(F.expr("percentile(doclen, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(doclen, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(doclen, 0.99)"), 6).alias("p99"),
        F.max("doclen").cast("long").alias("max_doclen"),
    )


def q_eval_metrics(spark, sf_dir):
    """Full eval harness (A8): MRR@10, Recall@5, Success@5 vs tf-top3
    pseudo-qrels, in one row."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    token_df = analysis.tokenize_docs(docs, id_col="pid", text_col="text", maxlen=220)
    qterms = brute.query_terms(_query_df(spark), 32)
    tfsum = (
        token_df.join(F.broadcast(qterms), "term")
        .groupBy("qid", "pid")
        .agg(F.sum("tf").alias("tfs"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("tfs"), F.asc("pid"))
    qrels = tfsum.withColumn("r", F.row_number().over(w)).filter(F.col("r") <= 3) \
                 .select("qid", "pid")
    ranking = q_bm25_top10(spark, sf_dir)
    return (
        metrics.mrr_at_k(ranking, qrels, 10)
        .crossJoin(metrics.recall_at_k(ranking, qrels, 5))
        .crossJoin(metrics.success_at_k(ranking, qrels, 5))
    )


def q_docs2passages(spark, sf_dir):
    """Doc→passage splitter (S14): 20-word windows over doc_id < 50."""
    from colbert_spark.sources.queries import docs2passages

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return docs2passages(docs, id_col="doc_id", max_words=20).select(
        "doc_id", F.col("passage_idx").cast("long").alias("passage_idx"), "passage"
    )


def q_docs2passages_overlap(spark, sf_dir):
    """Reference-exact splitter (S14 wraparound form,
    utility/preprocess/docs2passages.py:32-34): 20-word passages, overlap 5,
    last passage wraps into the doc's start so it's never short."""
    from colbert_spark.sources.queries import docs2passages_wrap

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return docs2passages_wrap(docs, id_col="doc_id", nwords=20, overlap=5)


def q_events_windowed(spark, sf_dir):
    """Tumbling-window rollup (streaming operator, batch mode)."""
    from colbert_spark.streaming.ingest import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(ev, window="1 hour").select(
        "window_start", "event_type", "n", "sum_value"
    )


def q_events_sliding(spark, sf_dir):
    """Sliding-window rollup (1-hour windows every 30 minutes): each event
    contributes to two windows; one shuffle, windows expanded JVM-side."""
    from colbert_spark.streaming.ingest import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(ev, window="1 hour",
                                 slide="30 minutes").select(
        "window_start", "event_type", "n", "sum_value"
    )


def q_events_sessionized(spark, sf_dir):
    """Gap-based sessionization (custom stateful-operator semantics; batch
    form via window functions — the streaming twin lives in
    streaming/sessionize.py and is pytest-checked for parity)."""
    from colbert_spark.streaming.sessionize import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    return sessionize_batch(ev, gap_minutes=30).select(
        "user_id", "session_id", "session_start", "n_events", "sum_value"
    )


def q_search_lang_filtered(spark, sf_dir):
    """pid allow-list semantics (F3): BM25 top-10 restricted to lang='en'.

    Filter-first: the allow-list semi-joins onto scored (qid, pid) rows
    BEFORE the rank window (bm25_topk's allowed_pids), so ranking work
    scales with the allowed set — never a full-corpus row_number."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text", "lang")
    allowed = docs.filter(F.col("lang") == "en").select("pid")
    ranking = brute.bm25_topk(docs.select("pid", "text"), _query_df(spark),
                              k=10, allowed_pids=allowed)
    return ranking.select("qid", "pid", F.col("rank").cast("long").alias("rank"),
                          "score")


_SEARCHERS: dict[str, object] = {}


def _indexed_searcher(spark, sf_dir):
    """Build (once per process per sf_dir) a real index over documents and
    return a Searcher — for entry queries that must exercise the INDEXED
    path (postings scan → wand kernels), not the brute oracle path."""
    if sf_dir in _SEARCHERS:
        return _SEARCHERS[sf_dir]
    import hashlib

    from colbert_spark.plans.config import ColBERTConfig
    from colbert_spark.plans.indexer import Indexer
    from colbert_spark.plans.searcher import Searcher

    name = "entryq_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    cfg = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                        index_name=name)
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    Indexer(cfg).index(name, docs, overwrite=True)
    _SEARCHERS[sf_dir] = Searcher(name, spark, cfg)
    return _SEARCHERS[sf_dir]


def q_rerank_topk(spark, sf_dir):
    """Rerank-over-candidates (S7 consumer; reference topK loader
    colbert/evaluation/loaders.py:59-152 feeding rerank-mode evaluation):
    a cheap first stage (sum-of-tf top-20 per query — the qid→pid
    candidate file's analog) restricts the REAL indexed Searcher via
    search_all(qid_to_pids=...). The one driver query that oracle-checks
    the postings-scan → wand path end-to-end."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    token_df = analysis.tokenize_docs(docs, id_col="pid", text_col="text",
                                      maxlen=220)
    qterms = brute.query_terms(_query_df(spark), 32)
    tfsum = (
        token_df.join(F.broadcast(qterms), "term")
        .groupBy("qid", "pid")
        .agg(F.sum("tf").alias("tfs"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("tfs"), F.asc("pid"))
    cands = (
        tfsum.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 20)
        .select("qid", "pid")
    )
    searcher = _indexed_searcher(spark, sf_dir)
    out = searcher.search_all(_query_df(spark), k=10, qid_to_pids=cands,
                              allow_small=True).df
    return out.select("qid", "pid", F.col("rank").cast("long").alias("rank"),
                      "score")


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH candidates with the portable md5-based shingle hash so
    the DuckDB oracle replays the exact signature pipeline (the xxhash64
    default stays the scale path; signatures are pytest-equivalence-checked
    between the two hashes' band structure)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return dedup.minhash_lsh_pairs(docs, num_perm=64, bands=16, threshold=0.3,
                                   portable_hash=True)


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs at Hamming ≤ 10 — banding recall is
    guaranteed at this radius (simhash_blocking_plan), so the banded result
    equals the oracle's brute all-pairs scan exactly."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return dedup.simhash_near_pairs(docs, max_hamming=10, portable_hash=True)


def q_dedup_simhash128(spark, sf_dir):
    """128-bit SimHash near-dup pairs at Hamming ≤ 12 — the radius regime
    where a 64-bit signature's blocking keys degrade to ~10 effective bits
    (simhash_blocking_plan warns); at 128 bits the plan stays single-band
    (k=13, c=1, ≥ 9-bit keys). Banding recall is guaranteed, so the banded
    result equals the oracle's brute all-pairs scan exactly."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return dedup.simhash_near_pairs128(docs, max_hamming=12,
                                       portable_hash=True)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: connected components over the radius-10
    SimHash pair graph (min-label propagation; oracle replays it as a
    recursive transitive closure). The (doc_id, rep) output is what a
    dedup pipeline actually consumes — keep reps, drop the rest."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    pairs = dedup.simhash_near_pairs(docs, max_hamming=10, portable_hash=True)
    return dedup.near_dup_components(pairs)


def _labeled_top50(spark, sf_dir):
    """Shared triples fixture: BM25 top-50 labeled with tf-top-3
    pseudo-qrels → (qid, pid, rank, label)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    token_df = analysis.tokenize_docs(docs, id_col="pid", text_col="text",
                                      maxlen=220)
    qterms = brute.query_terms(_query_df(spark), 32)
    tfsum = (
        token_df.join(F.broadcast(qterms), "term")
        .groupBy("qid", "pid")
        .agg(F.sum("tf").alias("tfs"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("tfs"), F.asc("pid"))
    qrels = (
        tfsum.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .select("qid", "pid")
        .withColumn("label", F.lit(1))
    )
    ranking = brute.bm25_topk(docs, _query_df(spark), k=50)
    return (
        ranking.join(qrels, ["qid", "pid"], "left")
        .fillna({"label": 0})
        .select("qid", "pid", "rank", "label")
    )


def q_create_triples(spark, sf_dir):
    """Training-triples mining (utility/supervision/triples.py analog):
    label the BM25 top-50 with tf-top-3 pseudo-qrels, take positives by
    the reference's greedy slot rule ((2,10),(1,50)), and pair each with
    5 hash-sampled negatives — the (qid, pos, neg) supervision table a
    training pipeline consumes."""
    from colbert_spark.operators.triples import create_triples

    labeled = _labeled_top50(spark, sf_dir)
    return create_triples(labeled, positives=((2, 10), (1, 50)), depth=50,
                          num_negatives=5, portable_hash=True)


def q_create_triples_permissive(spark, sf_dir):
    """create_triples with BOTH remaining branches live (triples.py:30-34
    biased split, :57-68 permissive mode): refused label-1 rows become
    extra positives with 2 past-rank negatives each, and strict negatives
    draw 2+2 from the top-10-by-rank pool vs the tail when the tail is
    large enough (plain hash order otherwise — both arms exercised across
    the query set)."""
    from colbert_spark.operators.triples import create_triples

    labeled = _labeled_top50(spark, sf_dir)
    return create_triples(labeled, positives=((2, 10), (1, 50)), depth=50,
                          num_negatives=4, biased=10, permissive=True,
                          permissive_negatives=2, portable_hash=True)


def q_create_triples_self(spark, sf_dir):
    """Self-training triples (utility/supervision/self_training.py:28-57):
    positives/negatives mined from the BM25 ranking ALONE by rank cutoffs —
    no qrels. Positives = rank ≤ 3; negatives = 6 hash-sampled from
    rank ∈ (10, 50]; one per-negative hash-drawn positive each."""
    from colbert_spark.operators.triples import create_triples_self

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    ranking = brute.bm25_topk(docs, _query_df(spark), k=50)
    return create_triples_self(
        ranking, npositives=1, depth_positive=3, cutoff_negative=10,
        depth_negative=50, num_sampled=6, portable_hash=True,
    )


def q_create_triples_self_biased(spark, sf_dir):
    """create_triples_self's biased arm (self_training.py:19-25
    sample_negatives 50/50 split between the first-100 negatives and the
    rest): at this fixture the pool is ≤ 40 rows so the top group covers
    it and the split yields its half-quota — the documented
    pools-smaller-than-quota softening, replayed by the oracle."""
    from colbert_spark.operators.triples import create_triples_self

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    ranking = brute.bm25_topk(docs, _query_df(spark), k=50)
    return create_triples_self(
        ranking, npositives=1, depth_positive=3, cutoff_negative=10,
        depth_negative=50, num_sampled=6, biased=True, portable_hash=True,
    )


def q_hop_search(spark, sf_dir):
    """Multi-hop retrieval (Baleen HopSearcher analog, server.hop_search):
    hop 1 retrieves for query 0, the top doc's 5 most-frequent terms
    (tf desc, first-occurrence asc) expand the query, hop 2 re-retrieves
    through the indexed engine. Whole funnel oracle-replayed in SQL."""
    from colbert_spark.server import hop_search, make_doc_text_lookup

    searcher = _indexed_searcher(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")

    pids, ranks, scores = hop_search(searcher, QUERY_SET[0][1], k=10,
                                     hops=2, expand_terms=5,
                                     get_doc_texts=make_doc_text_lookup(docs))
    return spark.createDataFrame(
        [(int(p), int(r), float(s)) for p, r, s in zip(pids, ranks, scores)],
        "pid long, rank long, score double",
    )


def _indexed_with_removed(spark, sf_dir, tag):
    """Shared §2.9 fixture: full-corpus index named for (tag, sf_dir) with
    pids 0-29 tombstoned. Returns (cfg, index_name, docs)."""
    import hashlib

    from colbert_spark.plans.config import ColBERTConfig
    from colbert_spark.plans.index_updater import IndexUpdater
    from colbert_spark.plans.indexer import Indexer

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    name = f"entryq_{tag}_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    cfg = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                        index_name=name)
    Indexer(cfg).index(name, docs, overwrite=True)
    IndexUpdater(name, spark, cfg).remove(list(range(30)))
    return cfg, name, docs


def _search_ranked(spark, cfg, name):
    """Shared §2.9 result shape: search the fixed query set, rank cast to
    BIGINT (the driver's type rule)."""
    from colbert_spark.plans.searcher import Searcher

    out = Searcher(name, spark, cfg).search_all(_query_df(spark), k=10).df
    return out.select("qid", "pid", F.col("rank").cast("long").alias("rank"),
                      "score")


def q_search_after_update(spark, sf_dir):
    """Incremental maintenance end-to-end (§2.9, reference
    colbert/index_updater.py remove/add/persist): tombstone 30 pids, then
    re-add the same docs — a PURE APPEND under the r5 epoch model (the
    old postings stay excluded by the tombstones' epoch bound; no
    existing block is touched) — and search the updated index. Because
    the base index was built on the FULL corpus, the frozen stats equal
    full-corpus stats, so the result must be bit-identical to the
    untouched full-corpus BM25 oracle. Exercises epoch tombstones,
    fresh-epoch append, and readded stamping in one driver-checked
    query."""
    from colbert_spark.plans.index_updater import IndexUpdater

    cfg, name, docs = _indexed_with_removed(spark, sf_dir, "upd")
    IndexUpdater(name, spark, cfg).add(docs.filter(F.col("pid") < 30))
    return _search_ranked(spark, cfg, name)


def q_search_after_stream_append(spark, sf_dir):
    """Streaming incremental maintenance end-to-end (§2.9 streaming
    analog, streaming/indexing.py): tombstone 30 pids, then stream the
    same docs back through stream_index_append — a file-per-trigger
    Structured Streaming source driving IndexUpdater.add micro-batch by
    micro-batch (each batch is a pure fresh-epoch append under the r5
    epoch model; exactly-once via the high-water-mark ledger). The
    base index covers the FULL corpus, so frozen stats equal full-corpus
    stats and the searched result must be bit-identical to the untouched
    full-corpus BM25 oracle."""
    import tempfile

    from colbert_spark.streaming.indexing import stream_index_append

    cfg, name, docs = _indexed_with_removed(spark, sf_dir, "stream")
    work = tempfile.mkdtemp(prefix="colbert_stream_append_")
    readd = docs.filter(F.col("pid") < 30)
    readd.filter(F.col("pid") < 15).coalesce(1).write.mode("overwrite") \
        .parquet(f"{work}/src")
    readd.filter(F.col("pid") >= 15).coalesce(1).write.mode("append") \
        .parquet(f"{work}/src")
    stream = (
        spark.readStream.schema(readd.schema)
        .option("maxFilesPerTrigger", 1).parquet(f"{work}/src")
    )
    q = stream_index_append(stream, name, cfg, f"{work}/ckpt")
    # awaitTermination returns False on TIMEOUT without raising — a
    # partially-drained stream must fail loudly here, not surface as a
    # baffling value-hash mismatch downstream
    assert q.awaitTermination(300), "stream append did not drain in 300s"
    return _search_ranked(spark, cfg, name)


def q_quantize_embeddings(spark, sf_dir):
    """int8 symmetric max-abs embedding quantization (operators/
    quantize.py — the vector-payload codec; reference residual-codec
    analog). floor(x+0.5) rounding is the one rule Spark and DuckDB
    compute identically, so the oracle replays the codec bit-for-bit."""
    from colbert_spark.operators.quantize import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    out = quantize_embeddings(emb, bits=8)
    # the operator returns q as array<int>; the oracle row carries it as a
    # joined string — engine-portable exact elementwise comparison without
    # relying on the driver's list-type canonicalization
    return out.select(
        "vec_id", F.round("scale", 6).alias("scale"),
        F.array_join(F.col("q"), ",").alias("q_str"),
    )


def q_url_latest_capture(spark, sf_dir):
    """Common-Crawl URL curation (webcrawl.py): canonicalize messy raw
    URLs (casing, default ports, fragments, tracking params, unsorted
    query strings, trailing slashes) and keep the newest capture per
    canonical URL, joined with the per-page crawl-history rollup. The
    driver's documents table has no url column, so the query constructs
    5 deterministic raw-URL variants per synthetic page from doc_id —
    identically in the DuckDB oracle — giving 2 canonical groups per page
    (with/without surviving query params), each with a known winner."""
    from colbert_spark.operators.webcrawl import capture_stats, latest_capture

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500).select("doc_id")
    page = F.expr("doc_id div 5").cast("string")
    k = F.expr("(doc_id div 5) % 7").cast("string")
    v = F.col("doc_id") % 5
    base = F.concat(F.lit("example"), k, F.lit(".com/page/"), page)
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), base, F.lit("/")))
        .when(v == 1, F.concat(F.lit("HTTPS://EXAMPLE"), k,
                               F.lit(".COM:443/page/"), page))
        .when(v == 2, F.concat(F.lit("https://"), base,
                               F.lit("?utm_source=x&b=2&a=1")))
        .when(v == 3, F.concat(F.lit("https://"), base, F.lit("#frag")))
        .otherwise(F.concat(F.lit("https://"), base, F.lit("?a=1&b=2")))
    )
    rows = d.select("doc_id", url.alias("url"),
                    F.col("doc_id").cast("long").alias("ts"))
    lc = latest_capture(rows, url_col="url", ts_col="ts").select(
        "canonical_url", F.col("doc_id").alias("kept_doc_id")
    )
    st = capture_stats(rows, url_col="url", ts_col="ts").select(
        "canonical_url",
        F.col("n_captures").cast("long").alias("n_captures"),
        F.col("n_raw_urls").cast("long").alias("n_raw_urls"),
        F.col("first_ts").cast("long").alias("first_ts"),
        F.col("last_ts").cast("long").alias("last_ts"),
    )
    return lc.join(st, "canonical_url").select(
        "canonical_url", "kept_doc_id", "n_captures", "n_raw_urls",
        "first_ts", "last_ts",
    )


def q_multimodal_frames(spark, sf_dir):
    """Frame-sampling plumbing over binary payloads: row explosion,
    deterministic indices/timestamps/sizes (the chopper is the stubbed
    codec; raw frame bytes are pytest-determinism-checked)."""
    blobs = multimodal.attach_blob(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 100)
    )
    fr = multimodal.sample_frames(blobs, every_nth=2, frame_bytes=64, fps=30)
    return fr.select(
        "doc_id", "frame_idx", "ts_ms",
        F.octet_length("frame").cast("long").alias("n_frame_bytes"),
    )


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs — the brute ground-truth form (the
    oracle path; the LSH-blocked scale path of the same operator is
    recall-pytested against this)."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    return similarity.cosine_near_pairs(emb, threshold=0.35, blocking="brute")


def q_token_count_bpe(spark, sf_dir):
    """Subword (BPE-rate heuristic) token accounting per source —
    LLM-token cost estimation over the corpus."""
    return textstats.token_counts_bpe(_docs(spark, sf_dir), "source")


def q_ann_lsh_top5(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.cosine_topk_lsh(emb, queries, k=5, n_planes=8)


def q_ann_ivf_top5(spark, sf_dir):
    """IVF funnel with the deterministic first_k quantizer so the DuckDB
    oracle replays assignment → probe → score → rank end-to-end; the
    KMeans-trained quantizer's recall is pytest-checked against brute."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.cosine_topk_ivf(emb, queries, k=5, n_clusters=16,
                                      n_probe=6, quantizer="first_k")


def q_decontaminate_ngram(spark, sf_dir):
    """Benchmark decontamination: flag corpus docs (id ≥ 20) sharing ≥ 2
    distinct 3-grams with the held-out set (id < 20) — the GPT-3/Gopher
    leak gate. Eval n-gram set broadcast; corpus never shuffled for the
    membership test."""
    from colbert_spark.operators import decontam

    docs = _docs(spark, sf_dir)
    return decontam.ngram_decontaminate(
        docs.filter(F.col("doc_id") >= 20),
        docs.filter(F.col("doc_id") < 20),
        n=3, min_overlap=2,
    )


def q_dedup_cross_corpus(spark, sf_dir):
    """Cross-generation exact dedup: docs 100..599 that do NOT repeat any
    normalized text already present in docs < 100 (anti-join on 16-byte
    fingerprints, never text)."""
    from colbert_spark.operators import decontam

    docs = _docs(spark, sf_dir)
    surv = decontam.exact_cross_dedup(
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 600)),
        docs.filter(F.col("doc_id") < 100),
    )
    return surv.select("doc_id", "source")


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition signals (2-gram duplicate and
    top-gram fractions) — the boilerplate/spam page detector."""
    return textstats.repetition_stats(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 200), n=2
    )


def q_pii_scrub(spark, sf_dir):
    """PII detection + redaction over deterministically-augmented text
    (the fixture has no PII, so each engine injects the same synthetic
    email/IP/phone snippets before the shared regex pass)."""
    mod4 = F.col("doc_id") % 4
    aug = F.concat(
        F.col("text"),
        F.when(mod4 == 0, F.concat(
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com soon")))
        .when(mod4 == 1, F.concat(
            F.lit(" host 10.2."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".77 flaky")))
        .when(mod4 == 2, F.concat(
            F.lit(" dial +555 010-"),
            (F.col("doc_id") % 9000 + 1000).cast("string"), F.lit(" today")))
        .otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150).select(
        "doc_id", aug.alias("text")
    )
    return textstats.pii_stats(docs)


def q_domain_mix_budget(spark, sf_dir):
    """Token-budget data-recipe mixing: per-source hash sample sized to a
    token budget (src0→2000, src1→1000, src2→500, others→1500), reported
    as the per-source recipe summary."""
    from colbert_spark.operators.sampling import mix_by_token_budget

    return mix_by_token_budget(
        _docs(spark, sf_dir),
        {"src0": 2000, "src1": 1000, "src2": 500},
        default_budget=1500, portable_hash=True,
    )


def q_shared_ngram_stats(spark, sf_dir):
    """Cross-document duplicated-span fractions (substring-dedup proxy):
    per doc < 400, the share of its distinct 3-grams occurring in other
    docs too."""
    from colbert_spark.operators.dedup import shared_ngram_stats

    # the operator registers its persisted slim (id, n-gram) table in
    # colbert_spark.caching; long-lived callers drain() after collecting
    return shared_ngram_stats(
        _docs(spark, sf_dir).filter(F.col("doc_id") < 400), n=3
    )


def q_decontaminate_embedding(spark, sf_dir):
    """Semantic decontamination: corpus vectors (id ≥ 10) within cosine
    0.30 of any eval vector (id < 10) — the paraphrase-leak gate the
    lexical n-gram pass misses. Eval side broadcast, zero corpus
    shuffle before the per-id fold."""
    from colbert_spark.operators import decontam

    emb = _t(spark, sf_dir, "embeddings")
    return decontam.embedding_decontaminate(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        threshold=0.30,
    )


def q_quality_unigram(spark, sf_dir):
    """Per-doc cross-entropy (bits/token) under the corpus's own unigram
    model — the LM-quality proxy; both distribution tails are suspect."""
    return textstats.unigram_logprob(_docs(spark, sf_dir))


def lined_docs(docs):
    """Deterministically 'line' a no-newline corpus: token stream chunked
    into 2-token lines (the pii_scrub co-injection pattern; 2-token
    chunks over the small fixture vocabulary guarantee real cross-doc
    duplicates for line_dedup to remove). Shared by the oracle entry and
    the bench probe."""
    t = docs.select("doc_id", analysis.tokens("text").alias("_t")).filter(
        F.size("_t") > 0
    )
    n_lines = F.ceil(F.size("_t") / F.lit(2.0)).cast("int")
    return t.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), n_lines - 1),
                lambda i: F.array_join(F.slice("_t", i * 2 + 1, 2), " "),
            ),
            "\n",
        ).alias("text"),
    )


def q_line_dedup(spark, sf_dir):
    """C4-style cross-document line dedup (keep-first, reconstruct) over
    the deterministically lined fixture docs."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 300)
    return dedup.line_dedup(lined_docs(docs))


def q_quality_gopher(spark, sf_dir):
    """Gopher quality-rule bundle (word count, mean word length, symbol
    ratio, alpha-word ratio, stopword hits) — bounds tuned to the
    fixture's 10-100-token docs so every flag has both outcomes."""
    return textstats.gopher_quality(
        _docs(spark, sf_dir),
        min_words=25, max_words=80,
        min_avg_len=4.4, max_avg_len=4.65,
        max_symbol_ratio=0.1, min_alpha_ratio=0.8, min_stop_hits=2,
    )


def q_ann_pq_top5(spark, sf_dir):
    """Product-quantization ANN, full ADC-then-refine funnel —
    deterministic first_k codebooks so the DuckDB oracle replays
    encode → LUT → ADC → top-R candidates → exact rescore → rank
    end-to-end; the KMeans-trained codebooks' recall is pytest-checked
    against brute instead (the IVF pattern)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.cosine_topk_pq(emb, queries, k=5, m=8, k_sub=16,
                                     quantizer="first_k", refine=15)


def q_ann_ivfpq_top5(spark, sf_dir):
    """IVFADC: coarse cell probe → ADC over only the probed cells' codes
    → exact refine of the top 15 — every stage deterministic (first_k
    coarse + subspace codebooks) so the oracle replays the whole funnel."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return similarity.cosine_topk_ivfpq(
        emb, queries, k=5, n_clusters=16, n_probe=6, m=8, k_sub=16,
        quantizer="first_k", refine=15,
    )


def q_hybrid_rrf_top10(spark, sf_dir):
    """Hybrid retrieval: more-like-this queries (docs 0-9 as both text
    query and query vector — vec_id aligns with doc_id in the fixture)
    through BM25 AND brute cosine, fused with reciprocal rank fusion
    (k=60, the Cormack et al. default)."""
    from colbert_spark.operators import fusion

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    tq = _docs(spark, sf_dir).filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("qid"), "text"
    )
    lex = brute.bm25_topk(docs, tq, k=10).select("qid", "pid", "rank")
    emb = _t(spark, sf_dir, "embeddings")
    vq = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    vec = similarity.cosine_topk_brute(emb, vq, k=10).select(
        "qid", F.col("vec_id").alias("pid"), "rank"
    )
    return fusion.rrf_fuse([lex, vec], k_rrf=60, topk=10)


def q_winnow_fingerprint(spark, sf_dir):
    """MOSS winnowing fingerprints (4-token shingles, window 5) over the
    documents table."""
    return textstats.winnow_fingerprints(_docs(spark, sf_dir), n=4, w=5)


def q_quality_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail terciles on the corpus-own unigram
    cross-entropy."""
    return textstats.perplexity_buckets(_docs(spark, sf_dir))


QUERIES = {
    "bm25_top10": q_bm25_top10,
    # new in r5 — front of the line so a row-capped driver run covers them
    "line_dedup": q_line_dedup,
    "quality_gopher": q_quality_gopher,
    "ann_pq_top5": q_ann_pq_top5,
    "ann_ivfpq_top5": q_ann_ivfpq_top5,
    "hybrid_rrf_top10": q_hybrid_rrf_top10,
    "winnow_fingerprint": q_winnow_fingerprint,
    "quality_ccnet_buckets": q_quality_ccnet_buckets,
    "decontaminate_ngram": q_decontaminate_ngram,
    "dedup_cross_corpus": q_dedup_cross_corpus,
    "repetition_stats": q_repetition_stats,
    "pii_scrub": q_pii_scrub,
    "domain_mix_budget": q_domain_mix_budget,
    "shared_ngram_stats": q_shared_ngram_stats,
    "quality_unigram": q_quality_unigram,
    "decontaminate_embedding": q_decontaminate_embedding,
    # r4's driver run happened not to reach these four (row cap?) — they
    # sit first in line so every driver run covers them (VERDICT r4 item 7)
    "dedup_embedding": q_dedup_embedding,
    "token_count_bpe": q_token_count_bpe,
    "ann_lsh_top5": q_ann_lsh_top5,
    "ann_ivf_top5": q_ann_ivf_top5,
    "term_stats": q_term_stats,
    "corpus_stats": q_corpus_stats,
    "term_topk_tf": q_term_topk_tf,
    "candidates_per_query": q_candidates_per_query,
    "softmax_top10": q_softmax_top10,
    "eval_mrr10": q_eval_mrr10,
    "ranking_shard_merge": q_ranking_shard_merge,
    "dedup_exact": q_dedup_exact,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "doc_fingerprint": q_doc_fingerprint,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "token_count_by_source": q_token_count_by_source,
    "curate_corpus": q_curate_corpus,
    "stratified_sample": q_stratified_sample,
    "pack_sequences": q_pack_sequences,
    "ann_cosine_top5": q_ann_cosine_top5,
    "multimodal_meta": q_multimodal_meta,
    "tpch_q1_pricing": q_tpch_q1_pricing,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders_per_customer": q_top_orders_per_customer,
    "events_hourly": q_events_hourly,
    "query_subsample": q_query_subsample,
    "flipr_topterms": q_flipr_topterms,
    "answer_em": q_answer_em,
    "annotate_em_dpr": q_annotate_em_dpr,
    "doclen_quantiles": q_doclen_quantiles,
    "eval_metrics": q_eval_metrics,
    "docs2passages": q_docs2passages,
    "docs2passages_overlap": q_docs2passages_overlap,
    "events_windowed": q_events_windowed,
    "events_sliding": q_events_sliding,
    "events_sessionized": q_events_sessionized,
    "search_lang_filtered": q_search_lang_filtered,
    "rerank_topk": q_rerank_topk,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash128": q_dedup_simhash128,
    "dedup_clusters": q_dedup_clusters,
    "create_triples": q_create_triples,
    "create_triples_permissive": q_create_triples_permissive,
    "create_triples_self": q_create_triples_self,
    "create_triples_self_biased": q_create_triples_self_biased,
    "hop_search": q_hop_search,
    "search_after_update": q_search_after_update,
    "search_after_stream_append": q_search_after_stream_append,
    "multimodal_frames": q_multimodal_frames,
    "url_latest_capture": q_url_latest_capture,
    "quantize_embeddings": q_quantize_embeddings,
}


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

ORACLE: dict[str, str] = {}

# Portable 60-bit hash — must stay in lockstep with dedup.md5_hash64.
_SQL_H64 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"

ORACLE["bm25_top10"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED}
SELECT qid, pid, rank, score FROM ranked WHERE rank <= 10
"""

ORACLE["term_stats"] = f"""
WITH {_SQL_CORPUS_CTES}
SELECT term, df, CAST(cf AS BIGINT) AS cf
FROM dfreq ORDER BY df DESC, term ASC LIMIT 50
"""

ORACLE["corpus_stats"] = f"""
WITH {_SQL_CORPUS_CTES}
SELECT (SELECT count(*) FROM dl) AS num_docs,
       (SELECT round(avg(doclen), 6) FROM dl) AS avg_doclen,
       (SELECT count(*) FROM dfreq) AS num_terms,
       (SELECT count(*) FROM tf) AS num_postings
"""

ORACLE["term_topk_tf"] = f"""
WITH {_SQL_CORPUS_CTES}
SELECT tf.pid, tf.tf, dl.doclen
FROM tf JOIN dl ON tf.pid = dl.pid
WHERE tf.term = 'scan'
ORDER BY tf.tf DESC, tf.pid ASC LIMIT 20
"""

ORACLE["candidates_per_query"] = f"""
WITH {_SQL_CORPUS_CTES}
SELECT qt.qid, count(DISTINCT tf.pid) AS num_candidates
FROM qt JOIN tf USING (term) GROUP BY qt.qid
"""

ORACLE["softmax_top10"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
top AS (SELECT qid, pid, rank, score FROM ranked WHERE rank <= 10)
SELECT qid, pid, rank,
       round(exp(score) / sum(exp(score)) OVER (PARTITION BY qid), 6) AS prob
FROM top
"""

ORACLE["eval_mrr10"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
tfsum AS (
  SELECT qt.qid, tf.pid, sum(tf.tf) AS tfs
  FROM qt JOIN tf USING (term) GROUP BY qt.qid, tf.pid
),
qrels AS (
  SELECT qid, pid FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid ORDER BY tfs DESC, pid) AS r
    FROM tfsum
  ) WHERE r = 1
),
hits AS (
  SELECT ranked.qid, 1.0 / min(ranked.rank) AS rr
  FROM ranked JOIN qrels ON ranked.qid = qrels.qid AND ranked.pid = qrels.pid
  WHERE ranked.rank <= 10
  GROUP BY ranked.qid
)
SELECT round(avg(coalesce(hits.rr, 0.0)), 6) AS mrr
FROM (SELECT DISTINCT qid FROM qrels) q LEFT JOIN hits USING (qid)
"""

ORACLE["ranking_shard_merge"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
full10 AS (SELECT qid, pid, score FROM ranked WHERE rank <= 10),
sa AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS r
  FROM full10 WHERE pid < 250
),
sb AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS r
  FROM full10 WHERE pid >= 250
),
merged AS (
  SELECT qid, pid, score FROM sa WHERE r <= 10
  UNION ALL
  SELECT qid, pid, score FROM sb WHERE r <= 10
)
SELECT qid, pid, rank, score FROM (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS rank
  FROM merged
) WHERE rank <= 10
"""

ORACLE["dedup_exact"] = """
WITH h AS (
  SELECT md5(array_to_string(list_filter(regexp_split_to_array(lower(text),
         '[^a-z0-9]+'), x -> x <> ''), ' ')) AS h
  FROM documents
),
g AS (SELECT h, count(*) AS cnt FROM h GROUP BY h)
SELECT CAST(sum(cnt) AS BIGINT) AS num_docs,
       count(*) AS num_distinct_texts,
       CAST(sum(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT)
         AS num_dup_docs
FROM g
"""

ORACLE["dedup_ngram_jaccard"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 300
),
sh AS (
  SELECT DISTINCT doc_id,
         terms[i] || ' ' || terms[i+1] AS shingle
  FROM t, unnest(range(1, len(terms))) AS u(i)
  WHERE len(terms) >= 2
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.a, i.b,
       round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON i.a = sa.doc_id
JOIN sizes sb ON i.b = sb.doc_id
WHERE i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter) >= 0.2
"""

ORACLE["doc_fingerprint"] = """
SELECT doc_id,
       md5(array_to_string(list_filter(regexp_split_to_array(lower(text),
           '[^a-z0-9]+'), x -> x <> ''), ' ')) AS fp
FROM documents WHERE doc_id < 100
"""

_SQL_STOP = "['the', 'a', 'of', 'and', 'to', 'in', 'is', 'it']"

ORACLE["quality_score"] = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 200
),
f AS (
  SELECT doc_id,
         len(terms) AS n_tokens,
         length(array_to_string(terms, ' ')) AS n_chars_norm,
         round(CASE WHEN len(terms) > 0 THEN
           list_sum(list_transform(terms, x -> length(x))) * 1.0 / len(terms)
           ELSE 0.0 END, 6) AS avg_token_len,
         round(CASE WHEN len(terms) > 0 THEN
           len(list_filter(terms, x -> list_contains({_SQL_STOP}, x))) * 1.0
             / len(terms)
           ELSE 0.0 END, 6) AS stopword_ratio
  FROM t
)
SELECT doc_id, n_tokens, n_chars_norm, avg_token_len, stopword_ratio,
       CAST(n_tokens >= 5 AND n_tokens <= 500 AND stopword_ratio < 0.5
            AS INTEGER) AS quality
FROM f
"""

# Deterministic sampling: keep iff hash(id:seed) % 1e6 < fraction * 1e6
# (sampling.stratified_sample, portable md5 hash).
ORACLE["stratified_sample"] = f"""
WITH h AS (
  SELECT doc_id, source,
         {_SQL_H64.format(x="concat(CAST(doc_id AS VARCHAR), ':', '42')")}
           % 1000000 AS bucket
  FROM documents
)
SELECT doc_id, source FROM h
WHERE bucket < CASE source
                 WHEN 'src0' THEN 1000000
                 WHEN 'src1' THEN 500000
                 WHEN 'src2' THEN 250000
                 ELSE 100000 END
"""

# Concatenate-and-slice packing (packing.pack_sequences): exclusive
# prefix sum of token counts within hash-assigned streams, sequences are
# budget-sized token slices.
ORACLE["pack_sequences"] = f"""
WITH r AS (
  SELECT doc_id,
         {_SQL_H64.format(x="concat(CAST(doc_id AS VARCHAR), ':', '42')")}
           % 8 AS stream,
         {_SQL_H64.format(x="concat(CAST(doc_id AS VARCHAR), ':', '43')")}
           AS ord,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
              '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, stream, n_tokens,
         CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY stream
                                           ORDER BY ord, doc_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND 1 PRECEDING),
                       0) AS BIGINT) AS start_tok
  FROM r
)
SELECT doc_id, stream, start_tok, n_tokens,
       CAST(start_tok // 512 AS BIGINT) AS seq_first,
       CAST(greatest(start_tok + n_tokens - 1, start_tok) // 512 AS BIGINT)
         AS seq_last
FROM c
"""

# Curation funnel: fingerprint/keep-first ≡ dedup_exact's hash, quality
# gate ≡ quality_score's thresholds on the ROUNDED ratio, lang gate ≡
# lang_id's >= 0.05 rule on the UNROUNDED ratio.
ORACLE["curate_corpus"] = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents
),
f AS (
  SELECT doc_id,
         md5(array_to_string(terms, ' ')) AS fp,
         len(terms) AS n_tokens,
         CASE WHEN len(terms) > 0 THEN
           len(list_filter(terms, x -> list_contains({_SQL_STOP}, x))) * 1.0
             / len(terms)
         ELSE 0.0 END AS ratio
  FROM t
),
k AS (SELECT fp, min(doc_id) AS doc_id FROM f GROUP BY fp)
SELECT f.doc_id,
       CAST(f.n_tokens AS BIGINT) AS n_tokens,
       round(f.ratio, 6) AS stopword_ratio,
       CASE WHEN f.ratio >= 0.05 THEN 'en' ELSE 'unk' END AS lang_pred
FROM f JOIN k ON f.fp = k.fp AND f.doc_id = k.doc_id
WHERE f.n_tokens >= 5 AND f.n_tokens <= 500
  AND round(f.ratio, 6) < 0.5
  AND f.ratio >= 0.05
"""

ORACLE["lang_id"] = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 200
),
r AS (
  SELECT doc_id,
         CASE WHEN len(terms) > 0 THEN
           len(list_filter(terms, x -> list_contains({_SQL_STOP}, x))) * 1.0
             / len(terms)
         ELSE 0.0 END AS ratio
  FROM t
)
SELECT doc_id, round(ratio, 6) AS en_ratio,
       CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'unk' END AS lang_pred
FROM r
"""

ORACLE["token_count_by_source"] = """
WITH t AS (
  SELECT source,
         len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS n
  FROM documents
)
SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens,
       round(avg(n), 6) AS avg_tokens
FROM t GROUP BY source
"""

ORACLE["ann_cosine_top5"] = """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
),
it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.qid, it.vec_id,
         round(list_dot_product(q.qv, it.v)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(it.v, it.v))), 6) AS sim
  FROM q JOIN it ON q.qid <> it.vec_id
)
SELECT qid, vec_id, rank, sim FROM (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""

ORACLE["multimodal_meta"] = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       CAST((octet_length(encode(text)) % 640) + 1 AS INTEGER) AS width,
       CAST((octet_length(encode(text)) % 480) + 1 AS INTEGER) AS height
FROM documents WHERE doc_id < 100
"""

ORACLE["tpch_q1_pricing"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

ORACLE["revenue_by_nation"] = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

ORACLE["top_orders_per_customer"] = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders WHERE o_custkey < 50
) WHERE rn <= 3
"""

# the seeded random.sample itself is driver-side in the reference too
# (dev_subsample.py:18) — the oracle inlines the identical selection and
# checks the relational part (per-qid ranking group extraction)
ORACLE["query_subsample"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED}
SELECT qid, pid, rank, score FROM ranked
WHERE rank <= 10
  AND qid IN ({", ".join(str(q) for q in _subsample_qids())})
"""

ORACLE["flipr_topterms"] = f"""
WITH {_SQL_CORPUS_CTES},
termscores AS (
  SELECT qt.qid, tf.pid,
         ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
         * tf.tf * ({K1} + 1.0)
         / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl)) AS sc
  FROM qt
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
),
top3 AS (
  SELECT qid, pid, round(sum(sc), 6) AS score FROM (
    SELECT qid, pid, sc,
           row_number() OVER (PARTITION BY qid, pid ORDER BY sc DESC) AS r
    FROM termscores
  ) WHERE r <= 3 GROUP BY qid, pid
)
SELECT qid, pid, rank, score FROM (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS rank
  FROM top3
) WHERE rank <= 10
"""

_SQL_ANSWERS = ", ".join(
    f"(CAST({q} AS BIGINT), '{a}')" for q, a in ANSWER_SET
)

ORACLE["answer_em"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
top5 AS (SELECT qid, pid FROM ranked WHERE rank <= 5),
answers(qid, answer) AS (VALUES {_SQL_ANSWERS}),
hit AS (
  SELECT t.qid,
         max(CASE WHEN contains(lower(d.text), lower(a.answer))
                  THEN 1.0 ELSE 0.0 END) AS hit
  FROM top5 t
  JOIN answers a ON t.qid = a.qid
  JOIN documents d ON t.pid = d.doc_id
  GROUP BY t.qid
)
SELECT round(avg(coalesce(hit.hit, 0.0)), 6) AS success_em5
FROM answers LEFT JOIN hit ON answers.qid = hit.qid
"""

# DPR tokenization reduces to '[a-z0-9]+|[^ ]' on this fixture (lowercase
# printable ASCII, space the only separator — verified); the Spark side
# runs the full Unicode implementation, pytest-parity-checked separately.
ORACLE["annotate_em_dpr"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
top10 AS (SELECT qid, pid, rank FROM ranked WHERE rank <= 10),
ans(qid, answer) AS (VALUES {_SQL_ANSWERS}),
anorm AS (
  SELECT qid,
         array_to_string(regexp_extract_all(answer, '[a-z0-9]+|[^ ]'), ' ')
           AS a
  FROM ans
),
pnorm AS (
  SELECT doc_id AS pid,
         array_to_string(regexp_extract_all(text, '[a-z0-9]+|[^ ]'), ' ')
           AS p
  FROM documents
),
lab AS (
  SELECT t.qid, t.pid, t.rank,
         max(CASE WHEN contains(' ' || pn.p || ' ', ' ' || an.a || ' ')
                  THEN 1 ELSE 0 END) AS label
  FROM top10 t
  JOIN pnorm pn USING (pid)
  JOIN anorm an ON an.qid = t.qid
  GROUP BY t.qid, t.pid, t.rank
),
cut(cutoff) AS (VALUES (1), (5), (10)),
perq AS (
  SELECT c.cutoff, l.qid, max(l.label) AS any_hit, sum(l.label) AS n_hits
  FROM cut c JOIN lab l ON l.rank <= c.cutoff
  GROUP BY c.cutoff, l.qid
)
SELECT CAST(cutoff AS BIGINT) AS cutoff,
       round(avg(any_hit), 6) AS success,
       round(avg(n_hits), 6) AS counts
FROM perq GROUP BY cutoff
"""

ORACLE["doclen_quantiles"] = f"""
WITH {_SQL_CORPUS_CTES}
SELECT round(quantile_cont(doclen, 0.5), 6) AS p50,
       round(quantile_cont(doclen, 0.9), 6) AS p90,
       round(quantile_cont(doclen, 0.99), 6) AS p99,
       max(doclen) AS max_doclen
FROM dl
"""

ORACLE["eval_metrics"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
tfsum AS (
  SELECT qt.qid, tf.pid, sum(tf.tf) AS tfs
  FROM qt JOIN tf USING (term) GROUP BY qt.qid, tf.pid
),
qrels AS (
  SELECT qid, pid FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid ORDER BY tfs DESC, pid) AS r
    FROM tfsum
  ) WHERE r <= 3
),
qq AS (SELECT DISTINCT qid FROM qrels),
nrel AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY qid),
hits AS (
  SELECT r.qid, r.rank
  FROM ranked r JOIN qrels q ON r.qid = q.qid AND r.pid = q.pid
),
mrr_q AS (
  SELECT qq.qid, coalesce(1.0 / min(CASE WHEN h.rank <= 10 THEN h.rank END), 0.0) AS rr
  FROM qq LEFT JOIN hits h ON qq.qid = h.qid GROUP BY qq.qid
),
rec_q AS (
  SELECT nrel.qid,
         coalesce(sum(CASE WHEN h.rank <= 5 THEN 1 ELSE 0 END), 0) * 1.0
           / any_value(nrel.n_rel) AS r
  FROM nrel LEFT JOIN hits h ON nrel.qid = h.qid GROUP BY nrel.qid
),
suc_q AS (
  SELECT qq.qid,
         CASE WHEN max(CASE WHEN h.rank <= 5 THEN 1 ELSE 0 END) = 1
              THEN 1.0 ELSE 0.0 END AS s
  FROM qq LEFT JOIN hits h ON qq.qid = h.qid GROUP BY qq.qid
)
SELECT (SELECT round(avg(rr), 6) FROM mrr_q) AS mrr,
       (SELECT round(avg(r), 6) FROM rec_q) AS recall,
       (SELECT round(avg(s), 6) FROM suc_q) AS success
"""

ORACLE["docs2passages"] = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS words
  FROM documents WHERE doc_id < 50
)
SELECT doc_id,
       CAST(i // 20 AS BIGINT) AS passage_idx,
       array_to_string(list_slice(words, i + 1, i + 20), ' ') AS passage
FROM t, unnest(range(0, greatest(len(words), 1), 20)) AS u(i)
WHERE array_to_string(list_slice(words, i + 1, i + 20), ' ') <> ''
"""

# nwords=20, overlap=5 → stride 15; offsets range(0, n-5, 15); doubled
# word list when n > 20 (wraparound, docs2passages.py:32-34).
ORACLE["docs2passages_overlap"] = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
  FROM documents WHERE doc_id < 50
),
p AS (
  SELECT doc_id, len(w) AS n,
         CASE WHEN len(w) > 20 THEN list_concat(w, w) ELSE w END AS ww
  FROM t
)
SELECT doc_id,
       CAST(i // 15 AS BIGINT) AS passage_idx,
       array_to_string(list_slice(ww, i + 1, i + 20), ' ') AS passage
FROM p, unnest(range(0, greatest(n - 5, 0), 15)) AS u(i)
"""

ORACLE["events_windowed"] = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""

# 1h windows sliding every 30min: an event at ts belongs to windows
# starting at bucket(ts, 30min) and bucket(ts, 30min) − 30min
ORACLE["events_sliding"] = """
WITH expanded AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, ts) - k * INTERVAL 30 MINUTE
           AS window_start,
         event_type, value
  FROM events, unnest(range(0, 2)) AS u(k)
)
SELECT window_start, event_type, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM expanded GROUP BY window_start, event_type
"""

ORACLE["events_sessionized"] = """
WITH flagged AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, value,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
           AS session_id
  FROM flagged
)
SELECT user_id, session_id, min(ts) AS session_start,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM numbered GROUP BY user_id, session_id
"""

ORACLE["search_lang_filtered"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
en AS (SELECT doc_id AS pid FROM documents WHERE lang = 'en'),
allowed AS (
  SELECT s.qid, s.pid, s.score FROM scored s JOIN en USING (pid)
)
SELECT qid, pid, rank, score FROM (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS rank
  FROM allowed
) WHERE rank <= 10
"""

ORACLE["events_hourly"] = """
SELECT event_type, CAST(hour(ts) AS INTEGER) AS hour, count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY event_type, hour(ts)
"""

# Rerank over tf-top-20 candidates: BM25 scored pairs ∩ candidate set,
# re-ranked within the allow-list (search_all(qid_to_pids=...) semantics).
ORACLE["rerank_topk"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
tfsum AS (
  SELECT qt.qid, tf.pid, sum(tf.tf) AS tfs
  FROM qt JOIN tf USING (term) GROUP BY qt.qid, tf.pid
),
cand AS (
  SELECT qid, pid FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid ORDER BY tfs DESC, pid) AS r
    FROM tfsum
  ) WHERE r <= 20
),
allowed AS (
  SELECT s.qid, s.pid, s.score FROM scored s JOIN cand USING (qid, pid)
)
SELECT qid, pid, rank, score FROM (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS rank
  FROM allowed
) WHERE rank <= 10
"""

# Replays create_triples(positives=((2,10),(1,50)), depth=50,
# num_negatives=5, portable_hash=True) over the BM25 top-50 with tf-top-3
# pseudo-labels: the greedy positive prefix becomes two window functions,
# negative sampling is the md5-hash order both engines share.
ORACLE["create_triples"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
tfsum AS (
  SELECT qt.qid, tf.pid, sum(tf.tf) AS tfs
  FROM qt JOIN tf USING (term) GROUP BY qt.qid, tf.pid
),
qrels AS (
  SELECT qid, pid FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid ORDER BY tfs DESC, pid) AS r
    FROM tfsum
  ) WHERE r <= 3
),
lab AS (
  SELECT rk.qid, rk.pid, rk.rank,
         CASE WHEN qr.pid IS NOT NULL THEN 1 ELSE 0 END AS label
  FROM (SELECT qid, pid, rank FROM ranked WHERE rank <= 50) rk
  LEFT JOIN qrels qr ON rk.qid = qr.qid AND rk.pid = qr.pid
),
posf AS (
  SELECT qid, pid, rank,
         CASE WHEN row_number() OVER (PARTITION BY qid ORDER BY rank) - 1
                   < greatest(CASE WHEN rank <= 10 THEN 2 ELSE 0 END,
                              CASE WHEN rank <= 50 THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS ok
  FROM lab WHERE label = 1
),
taken AS (
  SELECT qid, pid AS pos FROM (
    SELECT qid, pid, ok,
           coalesce(sum(1 - ok) OVER (PARTITION BY qid ORDER BY rank
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS bad
    FROM posf
  ) WHERE ok = 1 AND bad = 0
),
negs AS (
  SELECT qid, pid AS neg,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY {_SQL_H64.format(x="concat_ws('-', 42, qid, pid)")},
                    pid) AS hr
  FROM lab WHERE label = 0
)
SELECT t.qid, t.pos, n.neg
FROM taken t JOIN negs n ON t.qid = n.qid AND n.hr <= 5
"""

# Replays create_triples(num_negatives=4, biased=10, permissive=True,
# permissive_negatives=2): permissive collapses the greedy rule to
# positive-index < M(rank) (counter grows on every label-1 row,
# triples.py:57-68); refused positives get 2 past-rank negatives each;
# strict negatives use the 50/50 top-10/tail split when the tail is at
# least as large (:30-34), plain hash order otherwise.
ORACLE["create_triples_permissive"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
tfsum AS (
  SELECT qt.qid, tf.pid, sum(tf.tf) AS tfs
  FROM qt JOIN tf USING (term) GROUP BY qt.qid, tf.pid
),
qrels AS (
  SELECT qid, pid FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid ORDER BY tfs DESC, pid) AS r
    FROM tfsum
  ) WHERE r <= 3
),
lab AS (
  SELECT rk.qid, rk.pid, rk.rank,
         CASE WHEN qr.pid IS NOT NULL THEN 1 ELSE 0 END AS label
  FROM (SELECT qid, pid, rank FROM ranked WHERE rank <= 50) rk
  LEFT JOIN qrels qr ON rk.qid = qr.qid AND rk.pid = qr.pid
),
posf AS (
  SELECT qid, pid, rank,
         CASE WHEN row_number() OVER (PARTITION BY qid ORDER BY rank) - 1
                   < greatest(CASE WHEN rank <= 10 THEN 2 ELSE 0 END,
                              CASE WHEN rank <= 50 THEN 1 ELSE 0 END)
              THEN 1 ELSE 0 END AS ok
  FROM lab WHERE label = 1
),
taken AS (SELECT qid, pid AS pos FROM posf WHERE ok = 1),
refused AS (SELECT qid, pid AS pos, rank AS neg_start FROM posf WHERE ok = 0),
negs0 AS (
  SELECT qid, pid,
         row_number() OVER (PARTITION BY qid ORDER BY rank) AS nr,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY {_SQL_H64.format(x="concat_ws('-', 42, qid, pid)")},
                    pid) AS hr
  FROM lab WHERE label = 0
),
negs1 AS (
  SELECT qid, pid, nr, hr,
         row_number() OVER (
           PARTITION BY qid, (nr <= 10)
           ORDER BY {_SQL_H64.format(x="concat_ws('-', 42, qid, pid)")},
                    pid) AS hg,
         sum(CASE WHEN nr <= 10 THEN 1 ELSE 0 END)
           OVER (PARTITION BY qid) AS n_top,
         sum(CASE WHEN nr > 10 THEN 1 ELSE 0 END)
           OVER (PARTITION BY qid) AS n_rest
  FROM negs0
),
sel AS (
  SELECT qid, pid AS neg FROM negs1
  WHERE CASE WHEN n_top < n_rest THEN hg <= 2 ELSE hr <= 4 END
),
strict AS (
  SELECT t.qid, t.pos, s.neg FROM taken t JOIN sel s ON t.qid = s.qid
),
negs_ord AS (
  SELECT qid, pid AS neg,
         row_number() OVER (PARTITION BY qid ORDER BY rank, pid) AS nrr
  FROM lab WHERE label = 0
),
perm AS (
  SELECT qid, pos, neg FROM (
    SELECT r.qid, r.pos, n.neg,
           row_number() OVER (
             PARTITION BY r.qid, r.pos
             ORDER BY {_SQL_H64.format(x="concat_ws('-', 42, r.qid, r.pos, n.neg)")},
                      n.neg) AS pr
    FROM refused r JOIN negs_ord n ON r.qid = n.qid AND n.nrr > r.neg_start
  ) WHERE pr <= 2
)
SELECT qid, pos, neg FROM strict
UNION ALL
SELECT qid, pos, neg FROM perm
"""

# self_training.py:28-57 replay: rank-cutoff pools over the BM25 ranking,
# hash-order negative sampling, one per-negative hash-drawn positive
ORACLE["create_triples_self"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
rk AS (SELECT qid, pid, rank FROM ranked WHERE rank <= 50),
pos_pool AS (SELECT qid, pid AS pos FROM rk WHERE rank <= 3),
negs AS (
  SELECT qid, pid AS neg,
         row_number() OVER (
           PARTITION BY qid
           ORDER BY {_SQL_H64.format(x="concat_ws('-', 42, qid, pid)")},
                    pid) AS hr
  FROM rk WHERE rank > 10 AND rank <= 50
),
pairs AS (
  SELECT s.qid, p.pos, s.neg,
         row_number() OVER (
           PARTITION BY s.qid, s.neg
           ORDER BY {_SQL_H64.format(x="concat_ws('-', 42, s.qid, s.neg, p.pos)")},
                    p.pos) AS pr
  FROM (SELECT qid, neg FROM negs WHERE hr <= 6) s
  JOIN pos_pool p ON s.qid = p.qid
)
SELECT qid, pos, neg FROM pairs WHERE pr = 1
"""

# self_training.py:19-25 biased arm: 50/50 split between the first-100
# negatives (by rank order) and the rest; at this fixture the pool is
# ≤ 40 rows so the split yields its top-half quota of 3 (the documented
# pools-smaller-than-quota softening).
ORACLE["create_triples_self_biased"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
rk AS (SELECT qid, pid, rank FROM ranked WHERE rank <= 50),
pos_pool AS (SELECT qid, pid AS pos FROM rk WHERE rank <= 3),
negs0 AS (
  SELECT qid, pid,
         row_number() OVER (PARTITION BY qid ORDER BY rank, pid) AS nr
  FROM rk WHERE rank > 10 AND rank <= 50
),
negs AS (
  SELECT qid, pid AS neg, nr,
         row_number() OVER (
           PARTITION BY qid, (nr <= 100)
           ORDER BY {_SQL_H64.format(x="concat_ws('-', 42, qid, pid)")},
                    pid) AS hg
  FROM negs0
),
sel AS (
  SELECT qid, neg FROM negs
  WHERE CASE WHEN nr <= 100 THEN hg <= 3 ELSE hg <= 3 END
),
pairs AS (
  SELECT s.qid, p.pos, s.neg,
         row_number() OVER (
           PARTITION BY s.qid, s.neg
           ORDER BY {_SQL_H64.format(x="concat_ws('-', 42, s.qid, s.neg, p.pos)")},
                    p.pos) AS pr
  FROM sel s JOIN pos_pool p ON s.qid = p.qid
)
SELECT qid, pos, neg FROM pairs WHERE pr = 1
"""

_Q0_TOKEN_VALUES = ", ".join(
    f"('{t}')" for t in dict.fromkeys(analysis.python_tokenize(
        QUERY_SET[0][1], 32))
)

_SQL_HOP_SCORE = """
  SELECT tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM {Q} q JOIN dfreq ON dfreq.term = q.term
  JOIN tf ON tf.term = q.term
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY tf.pid
"""


def _hop_score(qcte: str) -> str:
    return _SQL_HOP_SCORE.format(K1=K1, B=B, Q=qcte)


# Two-hop Baleen funnel: hop-1 top-1 doc → top-5 terms by (tf desc,
# first-occurrence asc) over the UNtruncated doc → expanded term set →
# hop-2 ranking. Expansion positions use the full text (hop_search
# tokenizes the retrieved passage without maxlen).
ORACLE["hop_search"] = f"""
WITH {_SQL_CORPUS_CTES},
q0(term) AS (VALUES {_Q0_TOKEN_VALUES}),
s1 AS ({_hop_score('q0')}),
top1 AS (SELECT pid FROM s1 ORDER BY score DESC, pid ASC LIMIT 1),
fulldoc AS (
  SELECT doc_id AS pid,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents
),
fulltok AS (
  SELECT f.pid, f.terms[i] AS term, i
  FROM fulldoc f JOIN top1 USING (pid),
       unnest(range(1, len(f.terms) + 1)) AS r(i)
),
exp AS (
  SELECT term FROM (
    SELECT term, count(*) AS tf2, min(i) AS fp
    FROM fulltok GROUP BY term
  ) ORDER BY tf2 DESC, fp ASC LIMIT 5
),
q1 AS (
  SELECT DISTINCT term FROM (
    SELECT term FROM q0 UNION ALL SELECT term FROM exp
  )
),
s2 AS ({_hop_score('q1')})
SELECT pid, rank, score FROM (
  SELECT pid, score,
         row_number() OVER (ORDER BY score DESC, pid ASC) AS rank
  FROM s2
) WHERE rank <= 10
"""

# remove+re-add on a full-corpus index must reproduce the untouched
# full-corpus ranking exactly (stats were frozen at full-corpus values)
ORACLE["search_after_update"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED}
SELECT qid, pid, rank, score FROM ranked WHERE rank <= 10
"""

# int8 embedding quantization (quantize.py): identical float64 op order
# (x * L) / scale, floor(+0.5) rounding, clamp, all-zero guard.
ORACLE["quantize_embeddings"] = """
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 300
),
s AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e
)
SELECT vec_id,
       round(coalesce(scale, 0), 6) AS scale,
       coalesce(array_to_string(
         CASE WHEN scale = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(greatest(-127, least(127,
                   floor(x * 127 / scale + 0.5))) AS INTEGER)) END,
         ','), '') AS q_str
FROM s
"""

# URL canonicalization + latest-capture (webcrawl.py): same regex parse,
# same param-filter/sort, same windows — the canonicalization contract is
# mirrored expression-for-expression.
_SQL_URL_RE = r"^([^:/?#]+)://([^:/?#]+)(?::(\d+))?(/[^?#]*)?(?:\?([^#]*))?(?:#.*)?$"
ORACLE["url_latest_capture"] = f"""
WITH d AS (
  SELECT doc_id, doc_id // 5 AS page, doc_id % 5 AS v
  FROM documents WHERE doc_id < 500
),
u AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'https://example' || CAST(page % 7 AS VARCHAR)
                  || '.com/page/' || CAST(page AS VARCHAR) || '/'
      WHEN 1 THEN 'HTTPS://EXAMPLE' || CAST(page % 7 AS VARCHAR)
                  || '.COM:443/page/' || CAST(page AS VARCHAR)
      WHEN 2 THEN 'https://example' || CAST(page % 7 AS VARCHAR)
                  || '.com/page/' || CAST(page AS VARCHAR)
                  || '?utm_source=x&b=2&a=1'
      WHEN 3 THEN 'https://example' || CAST(page % 7 AS VARCHAR)
                  || '.com/page/' || CAST(page AS VARCHAR) || '#frag'
      ELSE 'https://example' || CAST(page % 7 AS VARCHAR)
                  || '.com/page/' || CAST(page AS VARCHAR) || '?a=1&b=2'
    END AS url,
    CAST(doc_id AS BIGINT) AS ts
  FROM d
),
p AS (
  SELECT doc_id, url, ts,
         lower(regexp_extract(url, '{_SQL_URL_RE}', 1)) AS scheme,
         lower(regexp_extract(url, '{_SQL_URL_RE}', 2)) AS host,
         regexp_extract(url, '{_SQL_URL_RE}', 3) AS port,
         regexp_replace(regexp_extract(url, '{_SQL_URL_RE}', 4), '/+$', '')
           AS path,
         coalesce(array_to_string(list_sort(list_filter(
           string_split(regexp_extract(url, '{_SQL_URL_RE}', 5), '&'),
           x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&'), '') AS qs
  FROM u
),
c AS (
  SELECT doc_id, url, ts,
         CASE WHEN scheme = '' THEN url ELSE
           scheme || '://' || host ||
           CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                     OR (scheme = 'https' AND port = '443')
                THEN '' ELSE ':' || port END ||
           path ||
           CASE WHEN qs = '' THEN '' ELSE '?' || qs END
         END AS canonical_url
  FROM p
),
lc AS (
  SELECT canonical_url, doc_id AS kept_doc_id,
         row_number() OVER (PARTITION BY canonical_url
                            ORDER BY ts DESC, url ASC) AS rn
  FROM c
),
st AS (
  SELECT canonical_url,
         CAST(count(*) AS BIGINT) AS n_captures,
         CAST(count(DISTINCT url) AS BIGINT) AS n_raw_urls,
         CAST(min(ts) AS BIGINT) AS first_ts,
         CAST(max(ts) AS BIGINT) AS last_ts
  FROM c GROUP BY canonical_url
)
SELECT l.canonical_url, l.kept_doc_id,
       s.n_captures, s.n_raw_urls, s.first_ts, s.last_ts
FROM lc l JOIN st s USING (canonical_url) WHERE l.rn = 1
"""

# Streaming maintenance: identical identity to search_after_update —
# remove + stream-re-add of the same docs under frozen full-corpus stats
# must reproduce the untouched full-corpus ranking bit-for-bit.
ORACLE["search_after_stream_append"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED}
SELECT qid, pid, rank, score FROM ranked WHERE rank <= 10
"""

ORACLE["multimodal_frames"] = """
WITH b AS (
  SELECT doc_id, encode(text) AS blob FROM documents WHERE doc_id < 100
)
SELECT doc_id,
       CAST(i AS BIGINT) AS frame_idx,
       CAST(i * 1000 // 30 AS BIGINT) AS ts_ms,
       CAST(greatest(least(64, octet_length(blob) - i * 64), 0) AS BIGINT)
         AS n_frame_bytes
FROM b, unnest(range(0, greatest(octet_length(blob) // 64, 1), 2)) AS u(i)
"""

ORACLE["dedup_embedding"] = """
WITH it AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 300
)
SELECT a, b, sim FROM (
  SELECT x.vec_id AS a, y.vec_id AS b,
         round(list_dot_product(x.v, y.v)
               / (sqrt(list_dot_product(x.v, x.v))
                  * sqrt(list_dot_product(y.v, y.v))), 6) AS sim
  FROM it x JOIN it y ON x.vec_id < y.vec_id
) WHERE sim >= 0.35
"""

ORACLE["token_count_bpe"] = """
WITH t AS (
  SELECT source,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents
),
c AS (
  SELECT source,
         len(terms) AS n_words,
         coalesce(CAST(list_sum(list_transform(
             terms, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT),
           0) AS n_sub
  FROM t
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS total_words,
       CAST(sum(n_sub) AS BIGINT) AS total_subwords,
       round(avg(n_sub), 6) AS avg_subwords
FROM c GROUP BY source
"""

# Exact replay of cosine_topk_ivf(quantizer="first_k", n_clusters=16,
# n_probe=6, k=5): centroids = 16 lowest-id vectors, assignment = argmax
# cosine (tie → lowest cell), probes = 6 nearest centroids per query.
ORACLE["ann_ivf_top5"] = """
WITH it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS cv FROM it WHERE vec_id < 16),
asn AS (
  SELECT vec_id, v, cell FROM (
    SELECT it.vec_id, it.v, cent.cell,
           row_number() OVER (
             PARTITION BY it.vec_id
             ORDER BY list_dot_product(it.v, cent.cv)
                      / (sqrt(list_dot_product(it.v, it.v))
                         * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                      cent.cell ASC) AS r
    FROM it CROSS JOIN cent
  ) WHERE r = 1
),
q AS (SELECT vec_id AS qid, v AS qv FROM it WHERE vec_id < 10),
probes AS (
  SELECT qid, qv, cell FROM (
    SELECT q.qid, q.qv, cent.cell,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY list_dot_product(q.qv, cent.cv)
                      / (sqrt(list_dot_product(q.qv, q.qv))
                         * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                      cent.cell ASC) AS r
    FROM q CROSS JOIN cent
  ) WHERE r <= 6
),
scored AS (
  SELECT p.qid, a.vec_id,
         round(list_dot_product(a.v, p.qv)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(p.qv, p.qv))), 6) AS sim
  FROM asn a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid
)
SELECT qid, vec_id, rank, sim FROM (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

def _lsh_plane_values(dim: int = 64, n_planes: int = 8,
                      n_tables: int = 6) -> str:
    """The exact hyperplanes cosine_topk_lsh uses (same Philox seeds),
    as DuckDB VALUES rows — repr() of a float64 round-trips, so both
    engines evaluate sign(dot) against bit-identical planes."""
    from colbert_spark.operators.similarity import _hyperplanes

    rows = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed=42 + 97 * t)
        for j in range(n_planes):
            vals = ", ".join(repr(float(x)) for x in planes[j])
            rows.append(f"({t}, {j}, [{vals}]::DOUBLE[])")
    return ", ".join(rows)


# Exact replay of cosine_topk_lsh(k=5, n_planes=8, n_tables=6,
# probe_flips=1): same hyperplanes, same bucket = sign-bits + (t << 8),
# same single-bit multi-probe, exact cosine on bucket-colliding candidates.
ORACLE["ann_lsh_top5"] = """
WITH it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
planes(t, j, p) AS (VALUES {PLANES}),
ib AS (
  SELECT vec_id, t,
         CAST(sum(CASE WHEN list_dot_product(v, p) > 0
                       THEN (1 << j) ELSE 0 END) + (t << 8) AS BIGINT)
           AS bucket
  FROM it CROSS JOIN planes GROUP BY vec_id, t
),
q AS (SELECT vec_id AS qid, v AS qv FROM it WHERE vec_id < 10),
qb AS (
  SELECT qid, t,
         CAST(sum(CASE WHEN list_dot_product(qv, p) > 0
                       THEN (1 << j) ELSE 0 END) + (t << 8) AS BIGINT)
           AS bucket
  FROM q CROSS JOIN planes GROUP BY qid, t
),
probes AS (
  SELECT qid, bucket FROM qb
  UNION ALL
  SELECT qid, xor(bucket, CAST(1 << j AS BIGINT)) AS bucket
  FROM qb, unnest(range(0, 8)) AS r(j)
),
cand AS (
  SELECT DISTINCT p.qid, ib.vec_id
  FROM probes p JOIN ib ON p.bucket = ib.bucket
  WHERE ib.vec_id <> p.qid
),
scored AS (
  SELECT c.qid, c.vec_id,
         round(list_dot_product(iv.v, q.qv)
               / (sqrt(list_dot_product(iv.v, iv.v))
                  * sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
  FROM cand c JOIN it iv ON iv.vec_id = c.vec_id JOIN q ON q.qid = c.qid
)
SELECT qid, vec_id, rank, sim FROM (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""".replace("{PLANES}", _lsh_plane_values())

def _minhash_perm_values() -> str:
    from colbert_spark.operators.dedup import minhash_perm_constants

    return ", ".join(f"({i}, {a}, {b})" for i, a, b in minhash_perm_constants(64))


# Exact replay of minhash_lsh_pairs(num_perm=64, bands=16, threshold=0.3,
# portable_hash=True): same shingles, same md5-based hash, same perm
# constants, same band blocking (slice equality == Spark's band-hash join),
# same est_jaccard (= fraction of equal signature positions).
ORACLE["dedup_minhash"] = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 300
),
sh AS (
  SELECT DISTINCT doc_id, terms[i] || ' ' || terms[i+1] AS shingle
  FROM t, unnest(range(1, len(terms))) AS u(i)
  WHERE len(terms) >= 2
),
h AS (
  SELECT doc_id, {_SQL_H64.format(x='shingle')} % 2147483647 AS h FROM sh
),
perm(perm, a, b) AS (VALUES {{PERMS}}),
mins AS (
  SELECT doc_id, perm, min((a * h + b) % 2147483647) AS mh
  FROM h CROSS JOIN perm GROUP BY doc_id, perm
),
bandkey AS (
  SELECT doc_id, perm // 4 AS band,
         string_agg(mh::VARCHAR, ',' ORDER BY perm) AS key
  FROM mins GROUP BY doc_id, perm // 4
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bandkey x JOIN bandkey y
    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
),
est AS (
  SELECT c.a, c.b,
         round(sum(CASE WHEN mx.mh = my.mh THEN 1 ELSE 0 END) / 64.0, 6)
           AS est_jaccard
  FROM cand c
  JOIN mins mx ON mx.doc_id = c.a
  JOIN mins my ON my.doc_id = c.b AND my.perm = mx.perm
  GROUP BY c.a, c.b
)
SELECT a, b, est_jaccard FROM est WHERE est_jaccard >= 0.3
""".replace("{PERMS}", _minhash_perm_values())

# Brute all-pairs ground truth at fixture scale; the Spark side's banded
# plan must equal it exactly because simhash_blocking_plan guarantees
# recall at radius 10 (the exact bit_count filter removes bucket FPs).
# The CTE chain is shared with dedup_clusters' recursive oracle.
_SQL_SIMHASH10_PAIRS = f"""t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 300
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(terms) AS term FROM t)
  GROUP BY doc_id, term
),
th AS (SELECT doc_id, {_SQL_H64.format(x='term')} AS h, tf FROM tf),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN tf ELSE -tf END) AS vote
  FROM th, unnest(range(0, 64)) AS r(b)
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM votes GROUP BY doc_id
),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
         CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
  FROM sig x JOIN sig y ON x.doc_id < y.doc_id
  WHERE bit_count(xor(x.simhash, y.simhash)) <= 10
)"""

ORACLE["dedup_simhash"] = f"""
WITH {_SQL_SIMHASH10_PAIRS}
SELECT a, b, hamming FROM pairs
"""

# Connected components of the same pair graph: rep = min doc id
# reachable, via a recursive transitive closure (min-label fixpoint —
# the declarative mirror of the Spark side's min-label propagation).
ORACLE["dedup_clusters"] = f"""
WITH RECURSIVE {_SQL_SIMHASH10_PAIRS},
edges AS (
  SELECT a AS x, b AS y FROM pairs
  UNION ALL
  SELECT b AS x, a AS y FROM pairs
),
reach(x, r) AS (
  SELECT x, y FROM edges
  UNION
  SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.x
)
SELECT x AS doc_id, CAST(least(x, min(r)) AS BIGINT) AS rep
FROM reach GROUP BY x
"""

# 128-bit variant: the two halves are disjoint 60-bit md5 slices (chars
# 1-15 and 17-31) — in lockstep with dedup.simhash128(portable_hash=True).
ORACLE["dedup_simhash128"] = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 300
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(terms) AS term FROM t)
  GROUP BY doc_id, term
),
th AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS hl,
         CAST(('0x' || substr(md5(term), 17, 15)) AS BIGINT) AS hh,
         tf
  FROM tf
),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (hl >> b) & 1 = 1 THEN tf ELSE -tf END) AS vl,
         sum(CASE WHEN (hh >> b) & 1 = 1 THEN tf ELSE -tf END) AS vh
  FROM th, unnest(range(0, 64)) AS r(b)
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vl > 0
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
           AS lo,
         CAST(sum(CASE WHEN vh > 0
                       THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT)
           AS hi
  FROM votes GROUP BY doc_id
)
SELECT x.doc_id AS a, y.doc_id AS b,
       CAST(bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi))
            AS BIGINT) AS hamming
FROM sig x JOIN sig y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.lo, y.lo)) + bit_count(xor(x.hi, y.hi)) <= 12
"""

# r5 pipeline additions -----------------------------------------------------

# Decontamination: distinct 3-grams per doc; eval set = docs < 20. DuckDB
# replays the shingle construction with 1-based inclusive list slices
# (terms[i:i+2] == Spark concat_ws of t[i-1..i+1]).
ORACLE["decontaminate_ngram"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents
),
cs AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(terms) - 1),
                i -> array_to_string(terms[i:i+2], ' ')))) AS shingle
  FROM t WHERE doc_id >= 20
),
es AS (
  SELECT DISTINCT shingle FROM (
    SELECT unnest(list_distinct(list_transform(range(1, len(terms) - 1),
           i -> array_to_string(terms[i:i+2], ' ')))) AS shingle
    FROM t WHERE doc_id < 20
  )
),
perdoc AS (SELECT doc_id, count(*) AS n_doc_ngrams FROM cs GROUP BY doc_id),
hits AS (
  SELECT doc_id, count(*) AS n_hit_ngrams
  FROM cs JOIN es USING (shingle) GROUP BY doc_id
)
SELECT h.doc_id, p.n_doc_ngrams, h.n_hit_ngrams
FROM hits h JOIN perdoc p USING (doc_id)
WHERE h.n_hit_ngrams >= 2
"""

# Cross-corpus exact dedup: fingerprint = md5 of the normalized token
# stream; coalesce guards the documented array_to_string-NULL-on-empty
# DuckDB gotcha.
ORACLE["dedup_cross_corpus"] = """
WITH fp AS (
  SELECT doc_id, source,
         md5(coalesce(array_to_string(
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> ''), ' '), '')) AS f
  FROM documents
),
seen AS (SELECT DISTINCT f FROM fp WHERE doc_id < 100)
SELECT doc_id, source FROM fp
WHERE doc_id >= 100 AND doc_id < 600
  AND f NOT IN (SELECT f FROM seen)
"""

ORACLE["repetition_stats"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 200
),
g AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(terms)),
                i -> array_to_string(terms[i:i+1], ' '))) AS gram
  FROM t
),
pg AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
a AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_ngrams,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_ngram_count,
         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup
  FROM pg GROUP BY doc_id
)
SELECT doc_id, n_ngrams, n_distinct, top_ngram_count,
       round(dup * 1.0 / n_ngrams, 6) AS dup_ngram_ratio,
       round(top_ngram_count * 1.0 / n_ngrams, 6) AS top_ngram_ratio
FROM a
"""

# PII scrub: both engines augment the text identically, then run the SAME
# three patterns (Java-regex ∩ RE2 semantics) in the same order.
ORACLE["pii_scrub"] = """
WITH aug AS (
  SELECT doc_id,
         text || CASE doc_id % 4
           WHEN 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)
                       || '@mail.example.com soon'
           WHEN 1 THEN ' host 10.2.' || CAST(doc_id % 256 AS VARCHAR)
                       || '.77 flaky'
           WHEN 2 THEN ' dial +555 010-'
                       || CAST(doc_id % 9000 + 1000 AS VARCHAR) || ' today'
           ELSE '' END AS t
  FROM documents WHERE doc_id < 150
)
SELECT doc_id,
  CAST(len(regexp_extract_all(t,
    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS BIGINT) AS n_email,
  CAST(len(regexp_extract_all(t,
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
  CAST(len(regexp_extract_all(t,
    '\\+?\\d{3}[- ]\\d{3}[- ]\\d{4}')) AS BIGINT) AS n_phone,
  regexp_replace(regexp_replace(regexp_replace(t,
    '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '<EMAIL>', 'g'),
    '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
    '\\+?\\d{3}[- ]\\d{3}[- ]\\d{4}', '<PHONE>', 'g') AS redacted
FROM aug
"""

# Token-budget domain mixing: replays sampling.mix_by_token_budget —
# per-source totals → keep_ppm = floor(least(1, budget/total)·1e6) →
# hash-threshold keep → kept summary. Division order (budget·1.0/total,
# then ·1e6, then floor) mirrors the Spark expression exactly.
_H_DOC42 = _SQL_H64.format(x="concat(CAST(doc_id AS VARCHAR), ':', '42')")
ORACLE["domain_mix_budget"] = f"""
WITH b AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
              '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n,
         {_H_DOC42} % 1000000 AS bucket
  FROM documents
),
t AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS total_tokens
  FROM b GROUP BY source
),
p AS (
  SELECT source, n_docs, total_tokens,
         CAST(CASE source WHEN 'src0' THEN 2000 WHEN 'src1' THEN 1000
              WHEN 'src2' THEN 500 ELSE 1500 END AS BIGINT) AS budget_tokens
  FROM t
),
p2 AS (
  SELECT *,
         CASE WHEN total_tokens = 0 THEN CAST(1000000 AS BIGINT)
              ELSE CAST(floor(least(1.0, budget_tokens * 1.0 / total_tokens)
                        * 1000000) AS BIGINT) END AS keep_ppm
  FROM p
),
k AS (
  SELECT b.source, count(*) AS kept_docs, CAST(sum(b.n) AS BIGINT) AS kept_tokens
  FROM b JOIN p2 ON b.source = p2.source
  WHERE b.bucket < p2.keep_ppm GROUP BY b.source
)
SELECT p2.source, p2.n_docs, p2.total_tokens, p2.budget_tokens, p2.keep_ppm,
       CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM p2 LEFT JOIN k ON p2.source = k.source
"""

# Cross-doc duplicated-span fractions: distinct 3-grams per doc (< 400),
# duplicated = n-gram seen in >1 doc, re-attached as a hit indicator.
ORACLE["shared_ngram_stats"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 400
),
cs AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(terms) - 1),
                i -> array_to_string(terms[i:i+2], ' ')))) AS shingle
  FROM t
),
dg AS (
  SELECT shingle FROM (
    SELECT shingle, count(*) AS c FROM cs GROUP BY shingle
  ) WHERE c > 1
),
j AS (
  SELECT cs.doc_id,
         CASE WHEN dg.shingle IS NULL THEN 0 ELSE 1 END AS hit
  FROM cs LEFT JOIN dg USING (shingle)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_doc_ngrams,
       CAST(sum(hit) AS BIGINT) AS n_shared_ngrams,
       round(sum(hit) * 1.0 / count(*), 6) AS shared_ratio
FROM j GROUP BY doc_id
"""

# Unigram-LM cross-entropy: p(term) = cf/Σcf over the full corpus;
# bits_per_token = Σ tf·(−log2 p) / doclen, round 6 (double-sum order).
ORACLE["quality_unigram"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents
),
tok AS (SELECT doc_id, unnest(terms) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
tot AS (SELECT sum(cf) AS total_cf FROM cf)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS doclen,
       round(sum(tf * -log2(cf * 1.0 / total_cf)) / sum(tf), 6)
         AS bits_per_token
FROM tf JOIN cf USING (term) CROSS JOIN tot
GROUP BY doc_id
"""

# Semantic decontamination: per-pair cosine rounded 6 (ANN convention),
# then per-corpus-vector max + hit count over the eval set.
ORACLE["decontaminate_embedding"] = """
WITH it AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10
),
q AS (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
),
s AS (
  SELECT vec_id,
         round(list_dot_product(v, qv)
               / (sqrt(list_dot_product(v, v))
                  * sqrt(list_dot_product(qv, qv))), 6) AS sim
  FROM it, q
)
SELECT vec_id, max(sim) AS max_sim, CAST(count(*) AS BIGINT) AS n_hits
FROM s WHERE sim >= 0.30 GROUP BY vec_id
"""


# C4 line dedup: both engines chunk the normalized token stream into
# 2-token "lines" (positions 0-based), elect the keep-first winner per
# distinct line via the packed doc_id*2^20+pos key, and reconstruct the
# surviving text in position order. string_agg skips the NULLed dropped
# lines; coalesce guards the all-dropped → NULL gotcha.
ORACLE["line_dedup"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents WHERE doc_id < 300
),
nz AS (SELECT * FROM t WHERE len(terms) > 0),
lines AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, CAST(ceil(len(terms) / 2.0) AS BIGINT) + 1),
           i -> array_to_string(terms[(i-1)*2+1 : (i-1)*2+2], ' '))) AS line,
         unnest(range(1, CAST(ceil(len(terms) / 2.0) AS BIGINT) + 1)) AS p1
  FROM nz
),
occ AS (
  SELECT doc_id, p1 - 1 AS pos, line,
         doc_id * 1048576 + (p1 - 1) AS k
  FROM lines
),
win AS (SELECT line, min(k) AS wk FROM occ WHERE line <> '' GROUP BY line),
fl AS (
  SELECT o.doc_id, o.pos, o.line,
         (o.line = '' OR o.k = w.wk) AS keep
  FROM occ o LEFT JOIN win w ON o.line = w.line
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(CASE WHEN keep THEN line END, chr(10)
                           ORDER BY pos), '') AS text_clean
FROM fl GROUP BY doc_id
"""


# Gopher rule bundle: every feature recomputed with the same arithmetic
# (integer length sums, then one double division, round 6) and the flags
# evaluated on the ROUNDED features, exactly like the Spark side.
ORACLE["quality_gopher"] = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms,
         list_filter(regexp_split_to_array(text, '\\s+'),
                     x -> x <> '') AS rw
  FROM documents
),
f AS (
  SELECT doc_id,
    CAST(len(terms) AS BIGINT) AS n_words,
    round(CASE WHEN len(terms) > 0
          THEN CAST(list_sum(list_transform(terms, x -> len(x)))
                    AS DOUBLE) / len(terms) ELSE 0.0 END, 6) AS avg_word_len,
    round(CASE WHEN len(terms) > 0
          THEN (len(regexp_extract_all(text, '#'))
                + len(regexp_extract_all(text, '\\.\\.\\.'))) * 1.0
               / len(terms) ELSE 0.0 END, 6) AS symbol_ratio,
    round(CASE WHEN len(rw) > 0
          THEN len(list_filter(rw, w -> regexp_matches(w, '[a-zA-Z]'))) * 1.0
               / len(rw) ELSE 0.0 END, 6) AS alpha_ratio,
    CAST(len(list_filter(list_distinct(terms),
         x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
         AS BIGINT) AS stop_hits
  FROM t
)
SELECT doc_id, n_words, avg_word_len, symbol_ratio, alpha_ratio, stop_hits,
  CAST(n_words >= 25 AND n_words <= 80 AS BIGINT) AS flag_word_count,
  CAST(avg_word_len >= 4.4 AND avg_word_len <= 4.65 AS BIGINT) AS flag_avg_len,
  CAST(symbol_ratio <= 0.1 AS BIGINT) AS flag_symbol,
  CAST(alpha_ratio >= 0.8 AS BIGINT) AS flag_alpha,
  CAST(stop_hits >= 2 AS BIGINT) AS flag_stopwords,
  CAST(n_words >= 25 AND n_words <= 80
       AND avg_word_len >= 4.4 AND avg_word_len <= 4.65
       AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8
       AND stop_hits >= 2 AS BIGINT) AS gopher_pass
FROM f
"""


# PQ/ADC replay: first_k codebooks (sub-vectors of the 16 lowest-id
# corpus vectors), L2 argmin encode via the dot-product identity (both
# engines fold left-to-right), broadcast LUT partials, reconstruction
# norm from codeword norms, round-6 ADC → top-15 candidate cut →
# exact-cosine rescore of ONLY those candidates → round-6-then-rank.
ORACLE["ann_pq_top5"] = """
WITH it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sub AS (
  SELECT vec_id, CAST(t.m AS INTEGER) AS m,
         v[t.m*8+1 : t.m*8+8] AS sv
  FROM it CROSS JOIN range(8) t(m)
),
cb AS (
  SELECT vec_id AS cid, m, sv AS cv, list_dot_product(sv, sv) AS cn
  FROM sub WHERE vec_id < 16
),
codes AS (
  SELECT vec_id, m, cid AS code, cn FROM (
    SELECT s.vec_id, s.m, c.cid, c.cn,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY list_dot_product(s.sv, s.sv)
                      - 2.0 * list_dot_product(s.sv, c.cv) + c.cn ASC,
                      c.cid ASC) AS r
    FROM sub s JOIN cb c USING (m)
  ) WHERE r = 1
),
q AS (SELECT vec_id AS qid, v AS qv, sqrt(list_dot_product(v, v)) AS nq
      FROM it WHERE vec_id < 10),
lut AS (
  SELECT q.qid, c.m, c.cid,
         list_dot_product(q.qv[c.m*8+1 : c.m*8+8], c.cv) AS partial
  FROM q CROSS JOIN cb c
),
sc AS (
  SELECT l.qid, cd.vec_id,
         sum(l.partial) AS adot, sum(cd.cn) AS recon2
  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.cid
  GROUP BY l.qid, cd.vec_id
),
scored AS (
  SELECT sc.qid, sc.vec_id,
         round(sc.adot / (q.nq * sqrt(sc.recon2)), 6) AS sim
  FROM sc JOIN q USING (qid) WHERE sc.vec_id <> sc.qid
),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY sim DESC, vec_id ASC) AS r
    FROM scored
  ) WHERE r <= 15
),
ex AS (
  SELECT c.qid, c.vec_id,
         round(list_dot_product(iv.v, q.qv)
               / (sqrt(list_dot_product(iv.v, iv.v)) * q.nq), 6) AS sim
  FROM cand c
  JOIN it iv ON c.vec_id = iv.vec_id
  JOIN q ON c.qid = q.qid
)
SELECT qid, vec_id, rank, sim FROM (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sim DESC, vec_id ASC) AS rank
  FROM ex
) WHERE rank <= 5
"""


# IVFADC replay: coarse cells (16 lowest-id vectors, argmax-cosine
# assignment, tie → lowest cell — the ann_ivf_top5 rule) → 6 probed
# cells per query → PQ encode/LUT (the ann_pq_top5 machinery) scoring
# ONLY the probed candidates → top-15 cut → exact rescore → top-5.
ORACLE["ann_ivfpq_top5"] = """
WITH it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS cv FROM it WHERE vec_id < 16),
asn AS (
  SELECT vec_id, cell FROM (
    SELECT it.vec_id, cent.cell,
           row_number() OVER (
             PARTITION BY it.vec_id
             ORDER BY list_dot_product(it.v, cent.cv)
                      / (sqrt(list_dot_product(it.v, it.v))
                         * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                      cent.cell ASC) AS r
    FROM it CROSS JOIN cent
  ) WHERE r = 1
),
q AS (SELECT vec_id AS qid, v AS qv, sqrt(list_dot_product(v, v)) AS nq
      FROM it WHERE vec_id < 10),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, cent.cell,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY list_dot_product(q.qv, cent.cv)
                      / (q.nq * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                      cent.cell ASC) AS r
    FROM q CROSS JOIN cent
  ) WHERE r <= 6
),
cand AS (
  SELECT p.qid, a.vec_id
  FROM asn a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.qid
),
sub AS (
  SELECT vec_id, CAST(t.m AS INTEGER) AS m,
         v[t.m*8+1 : t.m*8+8] AS sv
  FROM it CROSS JOIN range(8) t(m)
),
cb AS (
  SELECT vec_id AS cid, m, sv AS cv, list_dot_product(sv, sv) AS cn
  FROM sub WHERE vec_id < 16
),
codes AS (
  SELECT vec_id, m, cid AS code, cn FROM (
    SELECT s.vec_id, s.m, c.cid, c.cn,
           row_number() OVER (
             PARTITION BY s.vec_id, s.m
             ORDER BY list_dot_product(s.sv, s.sv)
                      - 2.0 * list_dot_product(s.sv, c.cv) + c.cn ASC,
                      c.cid ASC) AS r
    FROM sub s JOIN cb c USING (m)
  ) WHERE r = 1
),
lut AS (
  SELECT q.qid, c.m, c.cid,
         list_dot_product(q.qv[c.m*8+1 : c.m*8+8], c.cv) AS partial
  FROM q CROSS JOIN cb c
),
sc AS (
  SELECT cn.qid, cd.vec_id,
         sum(l.partial) AS adot, sum(cd.cn) AS recon2
  FROM cand cn
  JOIN codes cd ON cn.vec_id = cd.vec_id
  JOIN lut l ON l.qid = cn.qid AND l.m = cd.m AND l.cid = cd.code
  GROUP BY cn.qid, cd.vec_id
),
scored AS (
  SELECT sc.qid, sc.vec_id,
         round(sc.adot / (q.nq * sqrt(sc.recon2)), 6) AS sim
  FROM sc JOIN q USING (qid)
),
candr AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY sim DESC, vec_id ASC) AS r
    FROM scored
  ) WHERE r <= 15
),
ex AS (
  SELECT c.qid, c.vec_id,
         round(list_dot_product(iv.v, q.qv)
               / (sqrt(list_dot_product(iv.v, iv.v)) * q.nq), 6) AS sim
  FROM candr c
  JOIN it iv ON c.vec_id = iv.vec_id
  JOIN q ON c.qid = q.qid
)
SELECT qid, vec_id, rank, sim FROM (
  SELECT qid, vec_id, sim,
         row_number() OVER (PARTITION BY qid
                            ORDER BY sim DESC, vec_id ASC) AS rank
  FROM ex
) WHERE rank <= 5
"""


# Hybrid RRF: docs 0-9 as more-like-this queries through BOTH engines'
# full funnels — BM25 (round-6-then-rank, (-score, pid)) and brute
# cosine (self excluded) — then reciprocal-rank fusion 1/(60+rank),
# round 6, re-rank. IEEE addition is commutative, so the two-term RRF
# sums match bit-for-bit across engines.
ORACLE["hybrid_rrf_top10"] = f"""
WITH
d AS (SELECT doc_id AS pid, {_sql_tokens('text', 220)} AS terms FROM documents),
dl AS (SELECT pid, len(terms) AS doclen FROM d),
tok AS (SELECT pid, unnest(terms) AS term FROM d),
tf AS (SELECT pid, term, count(*) AS tf FROM tok GROUP BY pid, term),
stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id < 10),
qt AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term FROM q),
scored AS (
  SELECT qt.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM qt
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY qt.qid, tf.pid
),
lex AS (
  SELECT qid, pid, rank FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, pid) AS rank
    FROM scored
  ) WHERE rank <= 10
),
it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT vec_id AS qid, v AS qvec, sqrt(list_dot_product(v, v)) AS nq
       FROM it WHERE vec_id < 10),
vs AS (
  SELECT qv.qid, it.vec_id AS pid,
         round(list_dot_product(it.v, qv.qvec)
               / (sqrt(list_dot_product(it.v, it.v)) * qv.nq), 6) AS sim
  FROM it CROSS JOIN qv WHERE it.vec_id <> qv.qid
),
vec AS (
  SELECT qid, pid, rank FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid
                              ORDER BY sim DESC, pid) AS rank
    FROM vs
  ) WHERE rank <= 10
),
uni AS (
  SELECT qid, pid, 1.0 / (60.0 + rank) AS c FROM lex
  UNION ALL
  SELECT qid, pid, 1.0 / (60.0 + rank) AS c FROM vec
),
fused AS (
  SELECT qid, pid, round(sum(c), 6) AS rrf_score
  FROM uni GROUP BY qid, pid
)
SELECT qid, pid, rank, rrf_score FROM (
  SELECT qid, pid, rrf_score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY rrf_score DESC, pid) AS rank
  FROM fused
) WHERE rank <= 10
"""


# Winnowing replay: 4-token shingles → md5 hex hashes (lowercase in both
# engines, compared lexicographically) → window-of-5 minima → distinct,
# sorted, re-hashed. coalesce guards the empty-list array_to_string NULL.
ORACLE["winnow_fingerprint"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(terms) >= 4
              THEN list_transform(range(1, len(terms) - 2),
                   i -> array_to_string(terms[i : i + 3], ' '))
              ELSE [] END AS grams
  FROM t
),
h AS (
  SELECT doc_id, len(grams) AS n_grams,
         list_transform(grams, x -> md5(x)) AS hs
  FROM g
),
s AS (
  SELECT doc_id, n_grams,
         CASE WHEN n_grams >= 5 THEN
           list_sort(list_distinct(list_transform(
             range(1, n_grams - 3),
             i -> list_min(hs[i : i + 4]))))
         WHEN n_grams > 0 THEN [list_min(hs)]
         ELSE [] END AS sel
  FROM h
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
       CAST(len(sel) AS BIGINT) AS n_selected,
       md5(coalesce(array_to_string(sel, ' '), '')) AS winnow_fp
FROM s
"""


# CCNet terciles: the quality_unigram score query, thresholded at the
# round-6 1/3 and 2/3 interpolated percentiles (quantile_cont and
# Spark's percentile share the (n-1)-position linear-interpolation
# definition, evaluated over the identical round-6 score column).
ORACLE["quality_ccnet_buckets"] = """
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS terms
  FROM documents
),
tok AS (SELECT doc_id, unnest(terms) AS term FROM t),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
tot AS (SELECT sum(cf) AS total_cf FROM cf),
sc AS (
  SELECT doc_id,
         CAST(sum(tf) AS BIGINT) AS doclen,
         round(sum(tf * -log2(cf * 1.0 / total_cf)) / sum(tf), 6)
           AS bits_per_token
  FROM tf JOIN cf USING (term) CROSS JOIN tot
  GROUP BY doc_id
),
th AS (
  SELECT round(quantile_cont(bits_per_token, 1.0 / 3.0), 6) AS t1,
         round(quantile_cont(bits_per_token, 2.0 / 3.0), 6) AS t2
  FROM sc
)
SELECT doc_id, doclen, bits_per_token,
       CASE WHEN bits_per_token <= t1 THEN 'head'
            WHEN bits_per_token <= t2 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM sc CROSS JOIN th
"""


def q_bm25_prf_top10(spark, sf_dir):
    """RM3-style pseudo-relevance-feedback BM25: rank, mine the top-5
    docs for the 10 strongest expansion terms (Σtf·idf, round 6), re-rank
    with originals at weight 1.0 and expansions at 0.5."""
    from colbert_spark.operators import expansion

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    return expansion.bm25_prf_topk(docs, _query_df(spark), k=10,
                                   fb_docs=5, fb_terms=10, fb_weight=0.5)


QUERIES["bm25_prf_top10"] = q_bm25_prf_top10


# PRF replay: base BM25 round (rank ≤ 5 feedback docs), expansion-term
# election Σtf·idf round-6 with (ew desc, term) tiebreak, anti-join vs
# the original query terms, weighted second scoring round (w·term_score
# summed, round 6), final rank. All four stages share the corpus CTEs.
ORACLE["bm25_prf_top10"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
fb AS (SELECT qid, pid FROM ranked WHERE rank <= 5),
cand AS (
  SELECT f.qid, tf.term, sum(tf.tf) AS ftf
  FROM fb f JOIN tf ON f.pid = tf.pid
  GROUP BY f.qid, tf.term
),
cand2 AS (
  SELECT c.qid, c.term,
         round(c.ftf * ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0), 6) AS ew
  FROM cand c JOIN dfreq d USING (term) CROSS JOIN stats s
  WHERE NOT EXISTS (SELECT 1 FROM qt
                    WHERE qt.qid = c.qid AND qt.term = c.term)
),
texp AS (
  SELECT qid, term, 0.5 AS w FROM (
    SELECT qid, term,
           row_number() OVER (PARTITION BY qid
                              ORDER BY ew DESC, term) AS r
    FROM cand2
  ) WHERE r <= 10
),
wq AS (
  SELECT qid, term, 1.0 AS w FROM qt
  UNION ALL
  SELECT qid, term, w FROM texp
),
scored2 AS (
  SELECT wq.qid, tf.pid,
         round(sum(
           wq.w
           * ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM wq
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY wq.qid, tf.pid
)
SELECT qid, pid, rank, score FROM (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, pid) AS rank
  FROM scored2
) WHERE rank <= 10
"""


def q_search_snippets(spark, sf_dir):
    """KWIC snippets for the flagship BM25 top-10: per hit, the 8-token
    window with the most query-term occurrences (tie → earliest)."""
    from colbert_spark.operators import snippets

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    ranking = brute.bm25_topk(docs, _query_df(spark), k=10).select(
        "qid", "pid", "rank")
    return snippets.kwic_snippets(ranking, docs, _query_df(spark), width=8)


QUERIES["search_snippets"] = q_search_snippets


# KWIC replay: the BM25 funnel (rank ≤ 10), hit positions = indices of
# query terms in the FULL normalized token stream, candidate windows
# start at hits, score = hits inside [p, p+8), winner = max count then
# smallest start; snippet = winner window space-joined.
ORACLE["search_snippets"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
rk AS (SELECT qid, pid, rank FROM ranked WHERE rank <= 10),
dt AS (
  SELECT doc_id AS pid,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
qa AS (SELECT qid, list_distinct({_sql_tokens('text', 32)}) AS qt FROM q),
base AS (
  SELECT rk.qid, rk.pid, rk.rank, dt.t,
         list_filter(range(0, len(dt.t)),
                     i -> list_contains(qa.qt, dt.t[i + 1])) AS hp
  FROM rk JOIN dt USING (pid) JOIN qa USING (qid)
),
sc2 AS (
  SELECT qid, pid, rank, t, hp,
         CASE WHEN len(hp) > 0 THEN
           list_max(list_transform(hp,
             p -> len(list_filter(hp, x -> x >= p AND x < p + 8))))
         ELSE 0 END AS maxc
  FROM base
),
sel AS (
  SELECT qid, pid, rank, t, maxc,
         CASE WHEN len(hp) > 0 THEN
           list_min(list_filter(hp,
             p -> len(list_filter(hp, x -> x >= p AND x < p + 8)) = maxc))
         ELSE 0 END AS bp
  FROM sc2
)
SELECT qid, pid, rank, CAST(maxc AS BIGINT) AS n_hits,
       coalesce(array_to_string(t[bp + 1 : bp + 8], ' '), '') AS snippet
FROM sel
"""


# ---------------------------------------------------------------------------
# positional fulltext queries (operators/phrase.py)
# ---------------------------------------------------------------------------

# phrase probes: dense, sparse, multi-term, zero-hit, and OOV cases
PHRASE_SET: list[tuple[int, str]] = [
    (0, "order sort"),
    (1, "hash scan"),
    (2, "data stream"),
    (3, "the fast key"),
    (4, "scan filter join"),
    (5, "slow zzabsent"),
    (6, "batch batch"),
]


def q_phrase_search(spark, sf_dir):
    """Exact-phrase top-10 per phrase (contiguous token-run match)."""
    from colbert_spark.operators import phrase

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    phrases = spark.createDataFrame(PHRASE_SET, "qid long, text string")
    return phrase.phrase_match(docs, phrases, k=10)


QUERIES["phrase_search"] = q_phrase_search


def _sql_phrase_values() -> str:
    return ", ".join(f"(CAST({q} AS BIGINT), '{t}')" for q, t in PHRASE_SET)


# Replay: tf = #positions p with t[p+1 .. p+m] == phrase (DuckDB list
# slice is 1-based inclusive), gated exactly like the Spark guard.
ORACLE["phrase_search"] = f"""
WITH dt AS (
  SELECT doc_id AS pid,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
qp(qid, text) AS (VALUES {_sql_phrase_values()}),
qa AS (SELECT qid, {_sql_tokens('text', 32)} AS qt FROM qp),
hits AS (
  SELECT qid, pid,
         CASE WHEN len(qt) > 0 AND len(t) >= len(qt)
              AND len(list_filter(qt, x -> NOT list_contains(t, x))) = 0
         THEN len(list_filter(range(0, len(t) - len(qt) + 1),
                  p -> list_slice(t, p + 1, p + len(qt)) = qt))
         ELSE 0 END AS phrase_tf
  FROM dt CROSS JOIN qa
),
r AS (
  SELECT qid, pid, CAST(phrase_tf AS BIGINT) AS phrase_tf,
         row_number() OVER (PARTITION BY qid
                            ORDER BY phrase_tf DESC, pid) AS rank
  FROM hits WHERE phrase_tf > 0
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, phrase_tf
FROM r WHERE rank <= 10
"""


def q_bm25_proximity_top10(spark, sf_dir):
    """Proximity-reranked BM25: MinDist boost over the top-50 funnel."""
    from colbert_spark.operators import phrase

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    return phrase.bm25_proximity_topk(docs, _query_df(spark), k=10,
                                      rerank_depth=50)


QUERIES["bm25_proximity_top10"] = q_bm25_proximity_top10


# Replay: base = BM25 ranked (round-6, (-score, pid)) cut at 50; MinDist
# over matched-term positions with differing terms; boost ln(1+e^-d).
ORACLE["bm25_proximity_top10"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
qa AS (SELECT qid, list_distinct({_sql_tokens('text', 32)}) AS qt FROM q),
base AS (
  SELECT r.qid, r.pid, r.score AS bm25, d.terms AS t, qa.qt
  FROM ranked r JOIN d ON r.pid = d.pid JOIN qa ON r.qid = qa.qid
  WHERE r.rank <= 50
),
hits AS (
  SELECT qid, pid, bm25, t,
         list_filter(range(0, len(t)),
                     i -> list_contains(qt, t[i + 1])) AS hp
  FROM base
),
prox AS (
  SELECT qid, pid, bm25,
         list_min(flatten(list_transform(hp,
           p -> list_transform(
                  list_filter(hp, q2 -> t[q2 + 1] <> t[p + 1]),
                  q2 -> abs(q2 - p))))) AS mind
  FROM hits
),
rescored AS (
  SELECT qid, pid,
         round(bm25 + coalesce(
           ln(1.0 + exp(-CAST(mind AS DOUBLE))), 0.0), 6) AS score
  FROM prox
),
rr AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, pid) AS rank
  FROM rescored
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM rr WHERE rank <= 10
"""


# boolean probes: every must list non-empty (ranking needs a score)
BOOL_SET: list[tuple[int, str, str, str]] = [
    (0, "scan", "filter join", "zzabsent"),
    (1, "window sort", "", "batch"),
    (2, "hash", "merge table", "dup"),
    (3, "data stream", "", ""),
    (4, "key order", "fast slow", "scan"),
]


def q_boolean_search(spark, sf_dir):
    """Boolean-gated BM25 top-10 (must AND / should OR / must_not NOT)."""
    from colbert_spark.operators import phrase

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    bq = spark.createDataFrame(
        BOOL_SET, "qid long, must string, should string, must_not string")
    return phrase.boolean_search(docs, bq, k=10)


QUERIES["boolean_search"] = q_boolean_search


def _sql_bool_values() -> str:
    return ", ".join(
        f"(CAST({q} AS BIGINT), '{m}', '{s}', '{n}')"
        for q, m, s, n in BOOL_SET)


# Replay: gate on the 220-token view; score = BM25 over must ∪ should.
ORACLE["boolean_search"] = f"""
WITH {_SQL_CORPUS_CTES},
bq(qid, must, should, must_not) AS (VALUES {_sql_bool_values()}),
ba AS (
  SELECT qid, list_distinct({_sql_tokens('must', 32)}) AS mu,
         list_distinct({_sql_tokens('should', 32)}) AS sh,
         list_distinct({_sql_tokens('must_not', 32)}) AS no
  FROM bq
),
gate AS (
  SELECT ba.qid, d.pid
  FROM d CROSS JOIN ba
  WHERE len(list_filter(mu, x -> NOT list_contains(d.terms, x))) = 0
    AND (len(sh) = 0
         OR len(list_filter(sh, x -> list_contains(d.terms, x))) > 0)
    AND len(list_filter(no, x -> list_contains(d.terms, x))) = 0
),
qt2 AS (
  SELECT DISTINCT qid,
         unnest({_sql_tokens("must || ' ' || should", 32)}) AS term
  FROM bq
),
scored2 AS (
  SELECT qt2.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM qt2
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY qt2.qid, tf.pid
),
matched AS (
  SELECT scored2.qid, scored2.pid, scored2.score
  FROM scored2 JOIN gate
    ON scored2.qid = gate.qid AND scored2.pid = gate.pid
),
rb AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, pid) AS rank
  FROM matched
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM rb WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# fuzzy term lookup (operators/fuzzy.py)
# ---------------------------------------------------------------------------

# probes: deletion / insertion / exact / transposition(dist-2, filtered
# via a shared deletion variant) / no-neighborhood cases
FUZZY_SET: list[str] = ["scann", "joi", "merg", "windoww", "hash",
                        "tabel", "zzzqx"]


def q_fuzzy_suggest(spark, sf_dir):
    """SymSpell deletion-neighborhood spell suggestions over the corpus
    term dictionary (df from the 220-token BM25 view)."""
    from colbert_spark.operators import fuzzy

    token_df = analysis.tokenize_docs(
        _docs(spark, sf_dir), id_col="doc_id", text_col="text", maxlen=220)
    dic = brute.term_stats(token_df.withColumnRenamed("doc_id", "pid")) \
        .select("term", "df")
    probes = spark.createDataFrame([(t,) for t in FUZZY_SET],
                                   "qterm string")
    return fuzzy.term_suggest(dic, probes, k=5)


QUERIES["fuzzy_suggest"] = q_fuzzy_suggest


def _sql_fuzzy_values() -> str:
    return ", ".join(f"('{t}')" for t in FUZZY_SET)


# Replay: neighborhood = {s} ∪ 1-deletions, equi-join on the variant,
# exact levenshtein ≤ 1 filter, (dist, -df, term) window.
ORACLE["fuzzy_suggest"] = f"""
WITH {_SQL_CORPUS_CTES},
dict AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
dv AS (
  SELECT term, df, unnest(list_distinct(list_append(
    list_transform(range(1, len(term) + 1),
                   i -> substr(term, 1, i - 1)
                        || substr(term, i + 1, len(term))),
    term))) AS v
  FROM dict
),
qp(qterm) AS (VALUES {_sql_fuzzy_values()}),
qv AS (
  SELECT qterm, unnest(list_distinct(list_append(
    list_transform(range(1, len(qterm) + 1),
                   i -> substr(qterm, 1, i - 1)
                        || substr(qterm, i + 1, len(qterm))),
    qterm))) AS v
  FROM qp
),
cand AS (
  SELECT DISTINCT qterm, term, df FROM qv JOIN dv USING (v)
),
scored AS (
  SELECT qterm, term, CAST(levenshtein(qterm, term) AS BIGINT) AS dist, df
  FROM cand WHERE levenshtein(qterm, term) <= 1
),
rk AS (
  SELECT qterm, term, dist, df,
         row_number() OVER (PARTITION BY qterm
                            ORDER BY dist, df DESC, term) AS rank
  FROM scored
)
SELECT qterm, term, dist, df, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# SemDeDup semantic near-duplicate removal (similarity.semdedup)
# ---------------------------------------------------------------------------

def q_semdedup(spark, sf_dir):
    """SemDeDup over the embeddings table: first_k-16 cells, drop any
    vector with a lower-id same-cell neighbor at cosine ≥ 0.35."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb, n_clusters=16, threshold=0.35,
                               quantizer="first_k", mode="flag")


QUERIES["semdedup_drop"] = q_semdedup


# Replay: first_k assignment (the ann_ivf oracle's scheme), same-cell
# lower-id pairs at round-6 cosine ≥ τ, dup_of = min j (arg_min for its
# sim — Spark's min_by counterpart).
ORACLE["semdedup_drop"] = """
WITH it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS cv FROM it WHERE vec_id < 16),
asn AS (
  SELECT vec_id, v, cell FROM (
    SELECT it.vec_id, it.v, cent.cell,
           row_number() OVER (
             PARTITION BY it.vec_id
             ORDER BY list_dot_product(it.v, cent.cv)
                      / (sqrt(list_dot_product(it.v, it.v))
                         * sqrt(list_dot_product(cent.cv, cent.cv))) DESC,
                      cent.cell ASC) AS r
    FROM it CROSS JOIN cent
  ) WHERE r = 1
),
pairs AS (
  SELECT a.vec_id AS i, a.cell, b.vec_id AS j,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v))
                  * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
  FROM asn a JOIN asn b ON a.cell = b.cell AND a.vec_id > b.vec_id
)
SELECT i AS vec_id, CAST(cell AS BIGINT) AS cell,
       min(j) AS dup_of, arg_min(sim, j) AS sim
FROM pairs WHERE sim >= 0.35
GROUP BY i, cell
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (operators/dsir.py)
# ---------------------------------------------------------------------------

def q_dsir_weights(spark, sf_dir):
    """DSIR hashed-n-gram importance log-weights toward the lang='en'
    slice, top-100 most target-like docs."""
    from colbert_spark.operators import dsir

    docs = _docs(spark, sf_dir)
    out = dsir.dsir_log_weights(docs, docs.filter(F.col("lang") == "en"),
                                n_buckets=128)
    w = Window.orderBy(F.desc("log_weight"), F.asc("doc_id"))
    return (out.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 100)
            .select("doc_id", "log_weight", "rank"))


QUERIES["dsir_weights"] = q_dsir_weights


# Replay: unigram+bigram grams, portable md5-60bit bucket % 128,
# Laplace-smoothed bucket freqs, per-doc Σ count·ln-ratio rounded 6.
ORACLE["dsir_weights"] = f"""
WITH dd AS (
  SELECT doc_id, lang, {_sql_tokens('text', 220)} AS t FROM documents
),
grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(t,
           CASE WHEN len(t) >= 2 THEN
             list_transform(range(1, len(t)),
                            i -> t[i] || ' ' || t[i + 1])
           ELSE [] END)) AS gram
  FROM dd
),
gb AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) % 128 AS bucket
  FROM grams
),
cb AS (SELECT doc_id, bucket, count(*) AS c FROM gb GROUP BY doc_id, bucket),
raw AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS cr FROM cb GROUP BY bucket),
tgt AS (SELECT bucket, count(*) AS ct FROM gb WHERE lang = 'en'
        GROUP BY bucket),
spine AS (SELECT unnest(range(0, 128)) AS bucket),
totals AS (
  SELECT (SELECT sum(cr) FROM raw) AS tr, (SELECT sum(ct) FROM tgt) AS tt
),
ratio AS (
  SELECT spine.bucket,
         ln((coalesce(ct, 0) + 1.0) / (tt + 128.0))
         - ln((coalesce(cr, 0) + 1.0) / (tr + 128.0)) AS lr
  FROM spine LEFT JOIN raw USING (bucket) LEFT JOIN tgt USING (bucket)
  CROSS JOIN totals
),
wts AS (
  SELECT doc_id, round(sum(c * lr), 6) AS log_weight
  FROM cb JOIN ratio USING (bucket) GROUP BY doc_id
),
rk AS (
  SELECT doc_id, log_weight,
         row_number() OVER (ORDER BY log_weight DESC, doc_id) AS rank
  FROM wts
)
SELECT doc_id, log_weight, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 100
"""


# ---------------------------------------------------------------------------
# faceted search counts (operators/facets.py)
# ---------------------------------------------------------------------------

def q_search_facets(spark, sf_dir):
    """Facet counts (lang, source) over the BM25 top-50 result sets."""
    from colbert_spark.operators import facets

    docs = _docs(spark, sf_dir)
    ranking = brute.bm25_topk(
        docs.select(F.col("doc_id").alias("pid"), "text"),
        _query_df(spark), k=50).select("qid", "pid")
    return facets.facet_counts(
        ranking, docs.withColumnRenamed("doc_id", "pid"),
        ["lang", "source"])


QUERIES["search_facets"] = q_search_facets


ORACLE["search_facets"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
rk AS (SELECT qid, pid FROM ranked WHERE rank <= 50),
meta AS (SELECT doc_id AS pid, lang, source FROM documents),
fv AS (
  SELECT qid, 'lang' AS facet, coalesce(lang, 'null') AS value
  FROM rk JOIN meta USING (pid)
  UNION ALL
  SELECT qid, 'source' AS facet, coalesce(source, 'null') AS value
  FROM rk JOIN meta USING (pid)
)
SELECT qid, facet, value, CAST(count(*) AS BIGINT) AS n_hits
FROM fv GROUP BY qid, facet, value
"""


# ---------------------------------------------------------------------------
# Common-Crawl html surface: extraction + link graph (functions/analysis.py
# extract_text_from_html, operators/linkgraph.py)
# ---------------------------------------------------------------------------
#
# The driver's documents table has no html column (BASELINE.json
# input_hint: url, warc_ts, html, text, lang), so both engines synthesize
# the SAME html bytes per page from (doc_id, text): a template with
# <style>/<script> blocks, a comment, entity-escaped body text, and two
# <a href> out-links to pages (doc_id*3+1) % M and (doc_id*7+2) % M.
# The template lives ONCE below as (literal | field) segments; the Spark
# expression and the DuckDB SQL are both generated from it, so they can't
# drift. Page url = https://example{id%7}.com/page/{id} — the same form
# the hrefs use, so link targets unify with page nodes.

_HTML_M = 300  # fixture slice: doc_id < 300 at every sf

_HTML_SEGMENTS: list[tuple[str, str]] = [
    ("lit", "<html><head><title>Doc "), ("f", "id"),
    ("lit", '</title>\n<style type="text/css">p { color: #aaa; }</style>\n'
            '<script>var x = 1 < 2 && "f o o";</script></head>\n'
            "<body><!-- capture "), ("f", "id"),
    ("lit", " -->\n<h1>Doc &quot;"), ("f", "id"),
    ("lit", '&quot;</h1>\n<p class="b">'), ("f", "esc"),
    ("lit", '</p>\n<a href="https://example'), ("f", "h1"),
    ("lit", ".com/page/"), ("f", "t1"),
    ("lit", '">next &amp; p'), ("f", "t1"),
    ("lit", '</a>\n<a href="https://example'), ("f", "h2"),
    ("lit", ".com/page/"), ("f", "t2"),
    ("lit", '">go p'), ("f", "t2"),
    ("lit", "</a>&nbsp;<i>tail</i>\n</body></html>"),
]

#: encode order: & first, then < > " ' (decode in analysis.py mirrors)
_HTML_ESCAPES = [("&", "&amp;"), ("<", "&lt;"), (">", "&gt;"),
                 ('"', "&quot;"), ("'", "&#39;")]


def _html_expr():
    """Spark column: the synthesized html string for a documents row."""
    t1 = (F.col("doc_id") * 3 + 1) % _HTML_M
    t2 = (F.col("doc_id") * 7 + 2) % _HTML_M
    esc = F.col("text")
    for a, b in _HTML_ESCAPES:
        esc = F.replace(esc, F.lit(a), F.lit(b))
    fields = {
        "id": F.col("doc_id").cast("string"),
        "t1": t1.cast("string"),
        "t2": t2.cast("string"),
        "h1": (t1 % 7).cast("string"),
        "h2": (t2 % 7).cast("string"),
        "esc": esc,
    }
    return F.concat(*[
        F.lit(s) if kind == "lit" else fields[s]
        for kind, s in _HTML_SEGMENTS
    ])


def _html_sql() -> str:
    """DuckDB expression: the IDENTICAL html string (from _HTML_SEGMENTS)."""
    esc = "text"
    for a, b in _HTML_ESCAPES:
        qa, qb = a.replace("'", "''"), b.replace("'", "''")
        esc = f"replace({esc}, '{qa}', '{qb}')"
    fields = {
        "id": "CAST(doc_id AS VARCHAR)",
        "t1": f"CAST((doc_id * 3 + 1) % {_HTML_M} AS VARCHAR)",
        "t2": f"CAST((doc_id * 7 + 2) % {_HTML_M} AS VARCHAR)",
        "h1": f"CAST(((doc_id * 3 + 1) % {_HTML_M}) % 7 AS VARCHAR)",
        "h2": f"CAST(((doc_id * 7 + 2) % {_HTML_M}) % 7 AS VARCHAR)",
        "esc": esc,
    }
    parts = [
        "'" + s.replace("'", "''") + "'" if kind == "lit" else fields[s]
        for kind, s in _HTML_SEGMENTS
    ]
    return "(" + " || ".join(parts) + ")"


def _page_url_expr(c=None):
    c = F.col("doc_id") if c is None else c
    return F.concat(
        F.lit("https://example"), (c % 7).cast("string"),
        F.lit(".com/page/"), c.cast("string"))


def _page_url_sql(expr: str = "doc_id") -> str:
    return (f"('https://example' || CAST(({expr}) % 7 AS VARCHAR) "
            f"|| '.com/page/' || CAST(({expr}) AS VARCHAR))")


_PAGE_URL_SQL = ("('https://example' || CAST(doc_id % 7 AS VARCHAR) "
                 "|| '.com/page/' || CAST(doc_id AS VARCHAR))")


def q_html_extract(spark, sf_dir):
    """HTML → visible-text extraction over synthesized Common-Crawl-style
    pages: the input_hint's byte-identical-extraction invariant as a board
    row. html is a real binary column; extraction runs through the
    Arrow-vectorized mapInPandas path (analysis.with_extracted_text); the
    oracle replays the full strip/decode/collapse chain with RE2 regexes
    on the same synthesized string."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < _HTML_M)
    pages = d.select("doc_id", F.encode(_html_expr(), "UTF-8").alias("html"))
    out = analysis.with_extracted_text(pages, html_col="html",
                                       out_col="extracted")
    return out.select("doc_id", "extracted")


QUERIES["html_extract"] = q_html_extract

ORACLE["html_extract"] = f"""
WITH p AS (
  SELECT doc_id, {_html_sql()} AS html
  FROM documents WHERE doc_id < {_HTML_M}
)
SELECT doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(html,
            '<(?:script|style)\\b.*?</(?:script|style)\\s*>', ' ', 'gis'),
          '<!--.*?-->', ' ', 'gs'),
        '<[^>]*>', ' ', 'gs'),
    '&amp;', '&'), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
    '&#39;', chr(39)), '&nbsp;', ' '),
    '\\s+', ' ', 'g')) AS extracted
FROM p
"""


def q_link_pagerank(spark, sf_dir):
    """Link graph over the synthesized pages: href extraction (pure
    codegen regexp_extract_all over the html binary), in-degree, and
    3-iteration PageRank (d=0.85, operators/linkgraph.py). The oracle
    replays extraction and unrolls the three power iterations as CTEs;
    the fixture graph has no dangling nodes (every page carries two
    out-links), so the dangling term is exactly 0.0 in both engines."""
    from colbert_spark.operators import linkgraph

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < _HTML_M)
    pages = d.select(
        _page_url_expr().alias("url"),
        F.encode(_html_expr(), "UTF-8").alias("html"))
    edges = linkgraph.extract_links(pages)
    pr = linkgraph.pagerank(edges, iterations=3, damping=0.85)
    indeg = linkgraph.in_degree(edges)
    return pr.join(indeg, "url", "left").select(
        "url",
        F.coalesce(F.col("in_degree"), F.lit(0)).cast("long")
         .alias("in_degree"),
        F.round("rank", 6).alias("pagerank"))


QUERIES["link_pagerank"] = q_link_pagerank

_PR_ITER_SQL = """
r{i} AS (
  SELECT nodes.url,
         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
         + CAST(0.85 AS DOUBLE) * coalesce(s.c, 0.0) AS rank
  FROM nodes CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, sum(r.rank / o.outdeg) AS c
    FROM edges e JOIN r{prev} r ON e.src = r.url
    JOIN o ON e.src = o.src
    GROUP BY e.dst
  ) s ON nodes.url = s.dst
)"""

ORACLE["link_pagerank"] = f"""
WITH p AS (
  SELECT doc_id, {_PAGE_URL_SQL} AS url, {_html_sql()} AS html
  FROM documents WHERE doc_id < {_HTML_M}
),
edges AS (
  SELECT DISTINCT url AS src, dst
  FROM (SELECT url, unnest(regexp_extract_all(html, 'href="([^"]*)"', 1))
               AS dst FROM p)
  WHERE dst <> ''
),
nodes AS (
  SELECT DISTINCT src AS url FROM edges
  UNION SELECT DISTINCT dst FROM edges
),
nn AS (SELECT count(*) AS n FROM nodes),
o AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT url, CAST(1.0 AS DOUBLE) / nn.n AS rank
       FROM nodes CROSS JOIN nn),
{_PR_ITER_SQL.format(i=1, prev=0)},
{_PR_ITER_SQL.format(i=2, prev=1)},
{_PR_ITER_SQL.format(i=3, prev=2)},
indeg AS (SELECT dst AS url, count(*) AS ind FROM edges GROUP BY dst)
SELECT r3.url,
       CAST(coalesce(indeg.ind, 0) AS BIGINT) AS in_degree,
       round(r3.rank, 6) AS pagerank
FROM r3 LEFT JOIN indeg ON r3.url = indeg.url
"""


# ---------------------------------------------------------------------------
# query-likelihood (Dirichlet) ranking + wildcard prefix search
# (operators/lm.py, operators/expansion.py)
# ---------------------------------------------------------------------------

_QL_MU = 1500


def q_ql_dirichlet_top10(spark, sf_dir):
    """Dirichlet query-likelihood top-10 (operators/lm.py) — the second
    classical ranking model beside BM25, over the same query set."""
    from colbert_spark.operators import lm

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    out = lm.ql_dirichlet_topk(docs, _query_df(spark), k=10, mu=float(_QL_MU))
    return out.select("qid", "pid", F.col("rank").cast("long").alias("rank"),
                      "score")


QUERIES["ql_dirichlet_top10"] = q_ql_dirichlet_top10

ORACLE["ql_dirichlet_top10"] = f"""
WITH {_SQL_CORPUS_CTES},
cc AS (SELECT CAST(sum(doclen) AS DOUBLE) AS c FROM dl),
qm AS (SELECT qt.qid, qt.term, dfreq.cf FROM qt JOIN dfreq USING (term)),
qv AS (SELECT qid, count(*) AS nv FROM qm GROUP BY qid),
scored AS (
  SELECT qm.qid, tf.pid,
         round(sum(ln(1.0 + tf.tf
                      / (CAST({_QL_MU} AS DOUBLE) * qm.cf / cc.c)))
               + max(qv.nv) * ln(CAST({_QL_MU} AS DOUBLE)
                                 / (max(dl.doclen)
                                    + CAST({_QL_MU} AS DOUBLE))), 6) AS score
  FROM qm JOIN tf USING (term) JOIN dl ON tf.pid = dl.pid
  JOIN qv ON qm.qid = qv.qid CROSS JOIN cc
  GROUP BY qm.qid, tf.pid
),
ranked AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS rank
  FROM scored
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM ranked WHERE rank <= 10
"""


#: wildcard fixture: 'c' exercises the max_expansions cap, 'zz' matches
#: nothing (that qid yields zero rows in both engines)
PREFIX_SET: list[tuple[int, str]] = [
    (0, "sca"), (1, "win"), (2, "filt"), (3, "c"), (4, "zz"),
]


def q_prefix_search_top10(spark, sf_dir):
    """Wildcard prefix search: dictionary expansion (top-10 by df) + BM25
    OR-scoring (operators/expansion.prefix_search_topk)."""
    from colbert_spark.operators import expansion

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    pq = spark.createDataFrame(PREFIX_SET, "qid long, prefix string")
    out = expansion.prefix_search_topk(docs, pq, k=10, max_expansions=10)
    return out.select("qid", "pid", F.col("rank").cast("long").alias("rank"),
                      "score")


QUERIES["prefix_search_top10"] = q_prefix_search_top10

_SQL_PREFIX_VALUES = ", ".join(
    f"(CAST({q} AS BIGINT), '{p}')" for q, p in PREFIX_SET)

ORACLE["prefix_search_top10"] = f"""
WITH {_SQL_CORPUS_CTES},
pq(qid, prefix) AS (VALUES {_SQL_PREFIX_VALUES}),
m AS (
  SELECT pq.qid, dfreq.term, dfreq.df,
         row_number() OVER (PARTITION BY pq.qid
                            ORDER BY dfreq.df DESC, dfreq.term) AS r
  FROM pq JOIN dfreq ON dfreq.term LIKE pq.prefix || '%'
),
qx AS (
  SELECT qid, term,
         ln((s.n - df + 0.5) / (df + 0.5) + 1.0) AS idf
  FROM m CROSS JOIN stats s WHERE r <= 10
),
scored AS (
  SELECT qx.qid, tf.pid,
         round(sum(
           qx.idf * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM qx JOIN tf USING (term) JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY qx.qid, tf.pid
),
ranked AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid) AS rank
  FROM scored
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# containment dedup, per-host budget cap, PMI collocations
# (operators/dedup.py, operators/webcrawl.py, operators/textstats.py)
# ---------------------------------------------------------------------------

_SQL_TOKS_FULL = ("list_filter(regexp_split_to_array(lower(text), "
                  "'[^a-z0-9]+'), x -> x <> '')")


def q_containment_dedup(spark, sf_dir):
    """Broder containment near-superset detection: originals (doc_id <
    150) unioned with synthetic fragments (doc_id+10000 = first half of
    each original's tokens — built identically in the oracle); every
    fragment's 2-gram shingle set is contained in its source, so the
    fragment→source direction always fires at threshold 0.9, plus any
    organic near-identical pairs the corpus carries."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 150) \
        .select("doc_id", "text")
    toks = d.select("doc_id", analysis.tokens("text").alias("_t")) \
        .filter(F.size("_t") >= 4)
    frag = toks.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.array_join(
            F.expr("slice(_t, 1, greatest(2, size(_t) div 2))"), " "
        ).alias("text"))
    corpus = d.unionByName(frag)
    return dedup.containment_pairs(corpus, n=2, threshold=0.9)


QUERIES["containment_dedup"] = q_containment_dedup

ORACLE["containment_dedup"] = f"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
bt AS (SELECT doc_id, {_SQL_TOKS_FULL} AS t FROM base),
frag AS (
  SELECT doc_id + 10000 AS doc_id,
         coalesce(array_to_string(
           list_slice(t, 1, greatest(2, len(t) // 2)), ' '), '') AS text
  FROM bt WHERE len(t) >= 4
),
corpus AS (
  SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM frag
),
ct AS (SELECT doc_id, {_SQL_TOKS_FULL} AS t FROM corpus WHERE
       len({_SQL_TOKS_FULL}) >= 2),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS shingle
  FROM ct
),
sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
  FROM sh x JOIN sh y USING (shingle)
  WHERE x.doc_id <> y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
scored AS (
  SELECT a, b, round(i / sz.n_sh, 6) AS containment
  FROM inter JOIN sz ON inter.a = sz.doc_id
)
SELECT a, b, containment FROM scored WHERE containment >= 0.9
"""


def q_host_doc_cap(spark, sf_dir):
    """Per-host document budget over the raw-URL-variant fixture (the
    url_latest_capture synthesis): keep the newest 40 captures per host,
    two-phase presalted rank (webcrawl.host_budget_cap presalt=8 — the
    pathological-host remedy, exercised here to prove it changes
    nothing)."""
    from colbert_spark.operators.webcrawl import host_budget_cap

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500).select("doc_id")
    page = F.expr("doc_id div 5").cast("string")
    k = F.expr("(doc_id div 5) % 7").cast("string")
    v = F.col("doc_id") % 5
    base = F.concat(F.lit("example"), k, F.lit(".com/page/"), page)
    url = (
        F.when(v == 0, F.concat(F.lit("https://"), base, F.lit("/")))
        .when(v == 1, F.concat(F.lit("HTTPS://EXAMPLE"), k,
                               F.lit(".COM:443/page/"), page))
        .when(v == 2, F.concat(F.lit("https://"), base,
                               F.lit("?utm_source=x&b=2&a=1")))
        .when(v == 3, F.concat(F.lit("https://"), base, F.lit("#frag")))
        .otherwise(F.concat(F.lit("https://"), base, F.lit("?a=1&b=2")))
    )
    rows = d.select("doc_id", url.alias("url"),
                    F.col("doc_id").cast("long").alias("ts"))
    kept = host_budget_cap(rows, max_per_host=40, url_col="url",
                           ts_col="ts", presalt=8)
    return kept.select("host", "doc_id", "ts")


QUERIES["host_doc_cap"] = q_host_doc_cap

ORACLE["host_doc_cap"] = f"""
WITH d AS (
  SELECT doc_id, doc_id // 5 AS page, doc_id % 5 AS v
  FROM documents WHERE doc_id < 500
),
u AS (
  SELECT doc_id,
    CASE v
      WHEN 0 THEN 'https://example' || CAST(page % 7 AS VARCHAR)
                  || '.com/page/' || CAST(page AS VARCHAR) || '/'
      WHEN 1 THEN 'HTTPS://EXAMPLE' || CAST(page % 7 AS VARCHAR)
                  || '.COM:443/page/' || CAST(page AS VARCHAR)
      WHEN 2 THEN 'https://example' || CAST(page % 7 AS VARCHAR)
                  || '.com/page/' || CAST(page AS VARCHAR)
                  || '?utm_source=x&b=2&a=1'
      WHEN 3 THEN 'https://example' || CAST(page % 7 AS VARCHAR)
                  || '.com/page/' || CAST(page AS VARCHAR) || '#frag'
      ELSE 'https://example' || CAST(page % 7 AS VARCHAR)
                  || '.com/page/' || CAST(page AS VARCHAR) || '?a=1&b=2'
    END AS url,
    CAST(doc_id AS BIGINT) AS ts
  FROM d
),
h AS (
  SELECT doc_id, url, ts,
         lower(regexp_extract(url, '{_SQL_URL_RE}', 2)) AS host,
         row_number() OVER (
           PARTITION BY lower(regexp_extract(url, '{_SQL_URL_RE}', 2))
           ORDER BY ts DESC, url ASC) AS rn
  FROM u
)
SELECT host, doc_id, ts FROM h WHERE rn <= 40
"""


def q_collocations_pmi(spark, sf_dir):
    """Top-50 bigram collocations by PMI (min_count 5) over the full
    documents table (operators/textstats.bigram_collocations)."""
    return textstats.bigram_collocations(
        _docs(spark, sf_dir), min_count=5, k=50
    ).select("bigram", F.col("n_pairs").cast("long").alias("n_pairs"), "pmi")


QUERIES["collocations_pmi"] = q_collocations_pmi

ORACLE["collocations_pmi"] = f"""
WITH dd AS (SELECT doc_id, {_sql_tokens('text', 220)} AS t FROM documents),
uni AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(t) AS w FROM dd) GROUP BY w
),
big AS (
  SELECT bigram, count(*) AS n_pairs
  FROM (
    SELECT unnest(CASE WHEN len(t) >= 2 THEN
             list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])
           ELSE [] END) AS bigram
    FROM dd
  ) GROUP BY bigram
),
tot AS (
  SELECT CAST(sum(len(t)) AS BIGINT) AS u,
         CAST(sum(CASE WHEN len(t) >= 1 THEN len(t) - 1 ELSE 0 END)
              AS BIGINT) AS t
  FROM dd
),
scored AS (
  SELECT bigram, CAST(n_pairs AS BIGINT) AS n_pairs,
         round(ln((n_pairs / tot.t)
                  / ((ca.c / tot.u) * (cb.c / tot.u))), 6) AS pmi
  FROM big
  JOIN uni ca ON split_part(bigram, ' ', 1) = ca.w
  JOIN uni cb ON split_part(bigram, ' ', 2) = cb.w
  CROSS JOIN tot
  WHERE n_pairs >= 5
)
SELECT bigram, n_pairs, pmi FROM scored ORDER BY pmi DESC, bigram LIMIT 50
"""


# ---------------------------------------------------------------------------
# anchor-text search (operators/linkgraph.py extract_anchor_pairs /
# anchor_documents): rank pages by the text OTHERS link them with
# ---------------------------------------------------------------------------

ANCHOR_QUERY_SET: list[tuple[int, str]] = [
    (0, "p3"),
    (1, "go p7"),
    (2, "next p250 p1"),
    (3, "amp"),
]


def q_anchor_text_search(spark, sf_dir):
    """Anchor-text retrieval: every page's virtual document is the
    sorted concatenation of its inbound anchor texts (Brin & Page 1998
    §2.2); BM25 over that corpus. The oracle replays extraction
    (parallel-unnest zip of the two regex groups), the ORDER BY anchor
    aggregation, and the full BM25 funnel."""
    from colbert_spark.operators import linkgraph

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < _HTML_M)
    pages = d.select(
        _page_url_expr().alias("url"),
        F.encode(_html_expr(), "UTF-8").alias("html"))
    ad = linkgraph.anchor_documents(
        linkgraph.extract_anchor_pairs(pages)
    ).withColumnRenamed("url", "pid")
    qs = spark.createDataFrame(ANCHOR_QUERY_SET, "qid long, text string")
    out = brute.bm25_topk(ad, qs, k=10, text_col="anchor_text")
    return out.select("qid", F.col("pid").alias("url"),
                      F.col("rank").cast("long").alias("rank"), "score")


QUERIES["anchor_text_search"] = q_anchor_text_search

_SQL_ANCHOR_VALUES = ", ".join(
    f"(CAST({q} AS BIGINT), '{t}')" for q, t in ANCHOR_QUERY_SET)

ORACLE["anchor_text_search"] = f"""
WITH p AS (
  SELECT doc_id, {_html_sql()} AS html
  FROM documents WHERE doc_id < {_HTML_M}
),
pr AS (
  SELECT unnest(regexp_extract_all(html,
           'href="([^"]*)"[^>]*>([^<]*)<', 1)) AS dst,
         unnest(regexp_extract_all(html,
           'href="([^"]*)"[^>]*>([^<]*)<', 2)) AS anchor
  FROM p
),
ad AS (
  SELECT dst AS url, string_agg(anchor, ' ' ORDER BY anchor) AS text
  FROM pr WHERE dst <> '' GROUP BY dst
),
d2 AS (SELECT url, {_sql_tokens('text', 220)} AS terms FROM ad),
dl2 AS (SELECT url, len(terms) AS doclen FROM d2),
tok2 AS (SELECT url, unnest(terms) AS term FROM d2),
tf2 AS (SELECT url, term, count(*) AS tf FROM tok2 GROUP BY url, term),
stats2 AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl2),
q2(qid, text) AS (VALUES {_SQL_ANCHOR_VALUES}),
qt2 AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term
        FROM q2),
dfreq2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
scored AS (
  SELECT qt2.qid, tf2.url,
         round(sum(
           ln((s.n - dfreq2.df + 0.5) / (dfreq2.df + 0.5) + 1.0)
           * tf2.tf * ({K1} + 1.0)
           / (tf2.tf + {K1} * (1.0 - {B} + {B} * dl2.doclen / s.avgdl))
         ), 6) AS score
  FROM qt2
  JOIN dfreq2 USING (term)
  JOIN tf2 USING (term)
  JOIN dl2 ON tf2.url = dl2.url
  CROSS JOIN stats2 s
  GROUP BY qt2.qid, tf2.url
),
ranked AS (
  SELECT qid, url, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, url) AS rank
  FROM scored
)
SELECT qid, url, CAST(rank AS BIGINT) AS rank, score
FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# BM25F fielded ranking, recency re-rank, boilerplate line removal
# (operators/fielded.py, operators/fusion.py, operators/curation.py)
# ---------------------------------------------------------------------------

def q_bm25f_fielded(spark, sf_dir):
    """BM25F over a synthesized fielded corpus: title = first 5 tokens
    (weight 2.0), body = the rest (weight 1.0) — built identically in
    the oracle, which replays the weighted-tf fold, shared length
    normalization, doc-level idf, and the funnel."""
    from colbert_spark.operators import fielded

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400)
    toks = d.select(F.col("doc_id").alias("pid"),
                    analysis.tokens("text").alias("_t"))
    title = toks.select(
        "pid", F.lit("title").alias("field"),
        F.array_join(F.slice("_t", 1, 5), " ").alias("text"))
    body = toks.select(
        "pid", F.lit("body").alias("field"),
        F.array_join(F.expr("slice(_t, 6, greatest(size(_t) - 5, 0))"),
                     " ").alias("text"))
    out = fielded.bm25f_topk(title.unionByName(body), _query_df(spark),
                             {"title": 2.0, "body": 1.0}, k=10)
    return out.select("qid", "pid",
                      F.col("rank").cast("long").alias("rank"), "score")


QUERIES["bm25f_fielded"] = q_bm25f_fielded

ORACLE["bm25f_fielded"] = f"""
WITH base AS (
  SELECT doc_id AS pid, {_SQL_TOKS_FULL} AS t
  FROM documents WHERE doc_id < 400
),
fl AS (
  SELECT pid, CAST(2.0 AS DOUBLE) AS w,
         coalesce(array_to_string(list_slice(t, 1, 5), ' '), '') AS text
  FROM base
  UNION ALL
  SELECT pid, CAST(1.0 AS DOUBLE) AS w,
         coalesce(array_to_string(list_slice(t, 6, len(t)), ' '), '')
  FROM base
),
ft AS (SELECT pid, w, {_sql_tokens('text', 220)} AS terms FROM fl),
lens AS (
  SELECT pid, sum(w * len(terms)) AS lenw,
         CAST(sum(len(terms)) AS BIGINT) AS ntok
  FROM ft GROUP BY pid
),
lens2 AS (SELECT pid, lenw FROM lens WHERE ntok > 0),
fe AS (SELECT pid, w, unnest(terms) AS term FROM ft),
tfw AS (SELECT pid, term, sum(w * 1.0) AS tfw FROM fe GROUP BY pid, term),
s AS (SELECT count(*) AS n, avg(lenw) AS avgdl FROM lens2),
dfreq2 AS (SELECT term, count(*) AS df FROM tfw GROUP BY term),
q(qid, text) AS (VALUES {_sql_values()}),
qt2 AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term
        FROM q),
scored AS (
  SELECT qt2.qid, tfw.pid,
         round(sum(
           ln((s.n - dfreq2.df + 0.5) / (dfreq2.df + 0.5) + 1.0)
           * tfw.tfw * ({K1} + 1.0)
           / (tfw.tfw + {K1} * (1.0 - {B} + {B} * lens2.lenw / s.avgdl))
         ), 6) AS score
  FROM qt2
  JOIN dfreq2 USING (term)
  JOIN tfw USING (term)
  JOIN lens2 ON tfw.pid = lens2.pid
  CROSS JOIN s
  GROUP BY qt2.qid, tfw.pid
),
ranked AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid)
           AS rank
  FROM scored
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM ranked WHERE rank <= 10
"""


def q_recency_rerank(spark, sf_dir):
    """Half-life time-decay re-ranking of the BM25 top-50 (fusion.
    time_decay_rerank): ts = doc_id % 365 'days', now = 365, half-life
    100 — the freshness prior a crawl ranker applies."""
    from colbert_spark.operators import fusion

    docs = _docs(spark, sf_dir)
    ranking = brute.bm25_topk(
        docs.select(F.col("doc_id").alias("pid"), "text"),
        _query_df(spark), k=50)
    ts = docs.select(F.col("doc_id").alias("pid"),
                     (F.col("doc_id") % 365).cast("double").alias("ts"))
    out = fusion.time_decay_rerank(ranking, ts, now_ts=365.0,
                                   half_life=100.0, k=10)
    return out.select("qid", "pid",
                      F.col("rank").cast("long").alias("rank"),
                      "boosted_score")


QUERIES["recency_rerank"] = q_recency_rerank

ORACLE["recency_rerank"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
rk AS (SELECT qid, pid, score FROM ranked WHERE rank <= 50),
ts AS (
  SELECT doc_id AS pid, CAST(doc_id % 365 AS DOUBLE) AS ts FROM documents
),
b AS (
  SELECT qid, rk.pid,
         round(score * exp(((-0.6931471805599453) * (365.0 - ts.ts))
                           / 100.0), 6) AS boosted_score
  FROM rk JOIN ts ON rk.pid = ts.pid
),
r2 AS (
  SELECT qid, pid, boosted_score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY boosted_score DESC, pid) AS rank
  FROM b
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, boosted_score
FROM r2 WHERE rank <= 10
"""


def q_boilerplate_removal(spark, sf_dir):
    """Per-source boilerplate line removal (curation.
    remove_boilerplate_lines): every doc gets a synthetic cookie-banner
    line + footer (even ids also a promo line) — injected identically in
    the oracle; the 30% within-group vote strips exactly the template
    lines and keeps each document's own content."""
    from colbert_spark.operators.curation import remove_boilerplate_lines

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 400) \
        .select("doc_id", "source", "text")
    mid = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("subscribe now "), F.col("source"), F.lit("\n")),
    ).otherwise(F.lit(""))
    aug = d.select(
        "doc_id", "source",
        F.concat(F.lit("cookie notice "), F.col("source"), F.lit("\n"),
                 mid, F.col("text"), F.lit("\n"),
                 F.lit("all rights reserved")).alias("text"))
    return remove_boilerplate_lines(aug, group_col="source", threshold=0.3)


QUERIES["boilerplate_removal"] = q_boilerplate_removal

ORACLE["boilerplate_removal"] = """
WITH aug AS (
  SELECT doc_id, source,
         'cookie notice ' || source || chr(10)
         || CASE WHEN doc_id % 2 = 0
                 THEN 'subscribe now ' || source || chr(10) ELSE '' END
         || text || chr(10) || 'all rights reserved' AS t2
  FROM documents WHERE doc_id < 400
),
sp AS (SELECT doc_id, source, string_split(t2, chr(10)) AS l FROM aug),
pl AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(l) + 1),
                i -> struct_pack(pos := i, line := l[i]))) AS s
  FROM sp
),
lines AS (SELECT doc_id, source, s.pos AS pos, s.line AS line FROM pl),
gsize AS (SELECT source, count(*) AS gn FROM aug GROUP BY source),
ldf AS (
  SELECT source, line, count(DISTINCT doc_id) AS df
  FROM lines WHERE line <> '' GROUP BY source, line
),
bp AS (
  SELECT ldf.source, ldf.line
  FROM ldf JOIN gsize USING (source)
  WHERE df / gn >= 0.3
),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l LEFT JOIN bp
    ON l.source = bp.source AND l.line = bp.line
  WHERE bp.line IS NULL
),
cin AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_in
  FROM lines GROUP BY doc_id
),
ck AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT cin.doc_id, cin.n_lines_in,
       coalesce(ck.n_lines_kept, 0) AS n_lines_kept,
       coalesce(ck.clean_text, '') AS clean_text
FROM cin LEFT JOIN ck USING (doc_id)
"""


# ---------------------------------------------------------------------------
# weighted-sum hybrid fusion with min-max normalization (fusion.interp_fuse)
# ---------------------------------------------------------------------------

def q_hybrid_interp_top10(spark, sf_dir):
    """Hybrid retrieval via convex score blending (alpha=0.7 lexical /
    0.3 vector, per-query min-max normalization) over the same
    more-like-this fixture as hybrid_rrf_top10 — the two standard
    fusion rules side by side."""
    from colbert_spark.operators import fusion

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    tq = _docs(spark, sf_dir).filter(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("qid"), "text"
    )
    lex = brute.bm25_topk(docs, tq, k=10).select("qid", "pid", "score")
    emb = _t(spark, sf_dir, "embeddings")
    vq = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    vec = similarity.cosine_topk_brute(emb, vq, k=10).select(
        "qid", F.col("vec_id").alias("pid"), F.col("sim").alias("score")
    )
    return fusion.interp_fuse([(lex, 0.7), (vec, 0.3)], topk=10)


QUERIES["hybrid_interp_top10"] = q_hybrid_interp_top10

ORACLE["hybrid_interp_top10"] = f"""
WITH
d AS (SELECT doc_id AS pid, {_sql_tokens('text', 220)} AS terms FROM documents),
dl AS (SELECT pid, len(terms) AS doclen FROM d),
tok AS (SELECT pid, unnest(terms) AS term FROM d),
tf AS (SELECT pid, term, count(*) AS tf FROM tok GROUP BY pid, term),
stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q AS (SELECT doc_id AS qid, text FROM documents WHERE doc_id < 10),
qt AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term FROM q),
scored AS (
  SELECT qt.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM qt
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY qt.qid, tf.pid
),
lex AS (
  SELECT qid, pid, score FROM (
    SELECT qid, pid, score,
           row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, pid) AS rank
    FROM scored
  ) WHERE rank <= 10
),
it AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qv AS (SELECT vec_id AS qid, v AS qvec, sqrt(list_dot_product(v, v)) AS nq
       FROM it WHERE vec_id < 10),
vs AS (
  SELECT qv.qid, it.vec_id AS pid,
         round(list_dot_product(it.v, qv.qvec)
               / (sqrt(list_dot_product(it.v, it.v)) * qv.nq), 6) AS sim
  FROM it CROSS JOIN qv WHERE it.vec_id <> qv.qid
),
vec AS (
  SELECT qid, pid, sim AS score FROM (
    SELECT qid, pid, sim,
           row_number() OVER (PARTITION BY qid
                              ORDER BY sim DESC, pid) AS rank
    FROM vs
  ) WHERE rank <= 10
),
nlex AS (
  SELECT qid, pid,
         CAST(0.7 AS DOUBLE) * CASE WHEN mx > mn
           THEN (score - mn) / (mx - mn) ELSE 1.0 END AS c
  FROM (SELECT qid, pid, score,
               min(score) OVER (PARTITION BY qid) AS mn,
               max(score) OVER (PARTITION BY qid) AS mx
        FROM lex)
),
nvec AS (
  SELECT qid, pid,
         CAST(0.3 AS DOUBLE) * CASE WHEN mx > mn
           THEN (score - mn) / (mx - mn) ELSE 1.0 END AS c
  FROM (SELECT qid, pid, score,
               min(score) OVER (PARTITION BY qid) AS mn,
               max(score) OVER (PARTITION BY qid) AS mx
        FROM vec)
),
uni AS (SELECT * FROM nlex UNION ALL SELECT * FROM nvec),
fused AS (
  SELECT qid, pid, round(sum(c), 6) AS fused_score
  FROM uni GROUP BY qid, pid
)
SELECT qid, pid, rank, fused_score FROM (
  SELECT qid, pid, fused_score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY fused_score DESC, pid) AS rank
  FROM fused
) WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# index build provenance: metadata.json global stats vs corpus-derived oracle
# ---------------------------------------------------------------------------

def q_index_provenance_stats(spark, sf_dir):
    """Build provenance (I5): run the REAL Indexer, then read the
    finalized metadata.json and return its global stats as a 1-row
    DataFrame — the DuckDB oracle recomputes the same numbers straight
    from the corpus, so any drift between what the build pipeline
    records and what the data actually contains (doc counts, vocab,
    postings, avg doclen) fails the hash. The reference finalizes the
    same stats into its metadata (collection_indexer.py:484-497)."""
    import hashlib
    import json

    from colbert_spark.plans.config import ColBERTConfig
    from colbert_spark.plans.indexer import Indexer
    from colbert_spark.sources.catalog import IndexCatalog

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    name = "entryq_prov_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    cfg = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                        index_name=name)
    Indexer(cfg).index(name, docs, overwrite=True)
    meta = json.loads(
        IndexCatalog(cfg.index_path()).metadata_path.read_text())
    row = [(int(meta["num_docs"]), float(meta["avg_doclen"]),
            int(meta["num_terms"]), int(meta["num_postings"]))]
    return spark.createDataFrame(
        row, "num_docs long, avg_doclen double, num_terms long, "
             "num_postings long"
    ).select("num_docs", F.round("avg_doclen", 6).alias("avg_doclen"),
             "num_terms", "num_postings")


QUERIES["index_provenance_stats"] = q_index_provenance_stats

ORACLE["index_provenance_stats"] = f"""
WITH {_SQL_CORPUS_CTES}
SELECT (SELECT count(*) FROM dl) AS num_docs,
       (SELECT round(avg(doclen), 6) FROM dl) AS avg_doclen,
       (SELECT count(*) FROM dfreq) AS num_terms,
       (SELECT count(*) FROM tf) AS num_postings
"""


# ---------------------------------------------------------------------------
# SERP host crowding + significant terms (operators/diversify.py,
# operators/facets.py)
# ---------------------------------------------------------------------------

def q_search_host_crowded(spark, sf_dir):
    """Host-crowding diversification of the BM25 top-50: at most 2
    results per host per query (host = example{pid % 7}.com), global
    top-10 re-rank (operators/diversify.host_crowd)."""
    from colbert_spark.operators import diversify

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    ranking = brute.bm25_topk(docs, _query_df(spark), k=50)
    hosts = docs.select(
        "pid",
        F.concat(F.lit("example"), (F.col("pid") % 7).cast("string"),
                 F.lit(".com")).alias("host"))
    return diversify.host_crowd(ranking, hosts, max_per_host=2, k=10)


QUERIES["search_host_crowded"] = q_search_host_crowded

ORACLE["search_host_crowded"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
rk AS (SELECT qid, pid, score FROM ranked WHERE rank <= 50),
h AS (
  SELECT doc_id AS pid,
         'example' || CAST(doc_id % 7 AS VARCHAR) || '.com' AS host
  FROM documents
),
hj AS (
  SELECT qid, rk.pid, score, host,
         row_number() OVER (PARTITION BY qid, host
                            ORDER BY score DESC, rk.pid) AS hr
  FROM rk JOIN h ON rk.pid = h.pid
),
kept AS (SELECT qid, pid, score, host FROM hj WHERE hr <= 2),
fin AS (
  SELECT qid, pid, score, host,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, pid) AS rank
  FROM kept
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score, host
FROM fin WHERE rank <= 10
"""


def q_significant_terms(spark, sf_dir):
    """ES-style significant-terms aggregation (JLH) over each query's
    BM25 top-50 result set (operators/facets.significant_terms)."""
    from colbert_spark.operators import facets

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    ranking = brute.bm25_topk(docs, _query_df(spark), k=50) \
        .select("qid", "pid")
    return facets.significant_terms(ranking, docs, k=10, min_fg_df=3)


QUERIES["significant_terms"] = q_significant_terms

ORACLE["significant_terms"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
rk AS (SELECT qid, pid FROM ranked WHERE rank <= 50),
nn AS (SELECT CAST(count(DISTINCT pid) AS DOUBLE) AS n FROM tf),
fgn AS (SELECT qid, count(*) AS fg_n FROM rk GROUP BY qid),
fg AS (
  SELECT qid, term, count(*) AS fg_df
  FROM rk JOIN (SELECT DISTINCT pid, term FROM tf) t ON rk.pid = t.pid
  GROUP BY qid, term HAVING count(*) >= 3
),
sig AS (
  SELECT fg.qid, fg.term, fg.fg_df,
         round(((fg.fg_df / fgn.fg_n) - (dfreq.df / nn.n))
               * ((fg.fg_df / fgn.fg_n) / (dfreq.df / nn.n)), 6) AS jlh
  FROM fg
  JOIN dfreq USING (term)
  JOIN fgn ON fg.qid = fgn.qid
  CROSS JOIN nn
),
fin AS (
  SELECT qid, term, fg_df, jlh,
         row_number() OVER (PARTITION BY qid
                            ORDER BY jlh DESC, term) AS r
  FROM sig
)
SELECT qid, term, CAST(fg_df AS BIGINT) AS fg_df, jlh
FROM fin WHERE r <= 10
"""


# ---------------------------------------------------------------------------
# graded-relevance nDCG@10 (operators/metrics.ndcg_at_k)
# ---------------------------------------------------------------------------

def q_eval_ndcg10(spark, sf_dir):
    """nDCG@10 of BM25 vs graded tf-top3 pseudo-qrels (rel 3/2/1 for the
    per-query tf-sum top-3 docs — built identically in the oracle)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    token_df = analysis.tokenize_docs(docs, id_col="pid", text_col="text",
                                      maxlen=220)
    qterms = brute.query_terms(_query_df(spark), 32)
    tfsum = (
        token_df.join(F.broadcast(qterms), "term")
        .groupBy("qid", "pid")
        .agg(F.sum("tf").alias("tfs"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("tfs"), F.asc("pid"))
    qrels = (
        tfsum.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .select("qid", "pid", (F.lit(4) - F.col("r")).alias("rel"))
    )
    ranking = q_bm25_top10(spark, sf_dir)
    return metrics.ndcg_at_k(ranking, qrels, k=10)


QUERIES["eval_ndcg10"] = q_eval_ndcg10

ORACLE["eval_ndcg10"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
tfsum AS (
  SELECT qt.qid, tf.pid, sum(tf.tf) AS tfs
  FROM qt JOIN tf USING (term) GROUP BY qt.qid, tf.pid
),
qrels AS (
  SELECT qid, pid, 4 - r AS rel FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid ORDER BY tfs DESC, pid) AS r
    FROM tfsum
  ) WHERE r <= 3
),
hits AS (
  SELECT ranked.qid,
         sum(((1 << CAST(qrels.rel AS INTEGER)) - 1)
             / log2(ranked.rank + 1.0)) AS dcg
  FROM ranked JOIN qrels
    ON ranked.qid = qrels.qid AND ranked.pid = qrels.pid
  WHERE ranked.rank <= 10
  GROUP BY ranked.qid
),
ideal AS (
  SELECT qid,
         sum(((1 << CAST(rel AS INTEGER)) - 1) / log2(ir + 1.0)) AS idcg
  FROM (
    SELECT qid, rel,
           row_number() OVER (PARTITION BY qid
                              ORDER BY rel DESC, pid) AS ir
    FROM qrels
  ) WHERE ir <= 10
  GROUP BY qid
)
SELECT round(avg(coalesce(hits.dcg, 0.0) / ideal.idcg), 6) AS ndcg
FROM ideal LEFT JOIN hits USING (qid)
"""


# ---------------------------------------------------------------------------
# events burst detection + crawl snapshot delta (operators/trending.py,
# operators/webcrawl.py)
# ---------------------------------------------------------------------------

def q_events_burst(spark, sf_dir):
    """Trending detection over the events stream: per (event_type, 1-hour
    window) count z-scored against the type's 6-window trailing baseline
    (operators/trending.window_burst_scores)."""
    from colbert_spark.operators import trending

    ev = _t(spark, sf_dir, "events")
    return trending.window_burst_scores(ev, window_seconds=3600,
                                        trail=6, min_trail=3)


QUERIES["events_burst"] = q_events_burst

ORACLE["events_burst"] = """
WITH c AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS win_start,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type, win_start, CAST(n AS BIGINT) AS n,
         avg(n) OVER w AS mu,
         stddev_samp(n) OVER w AS sd,
         count(n) OVER w AS nt
  FROM c
  WINDOW w AS (PARTITION BY event_type ORDER BY win_start
               ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, win_start, n,
       CASE WHEN nt >= 3 AND sd > 0
            THEN round((n - mu) / sd, 6) END AS z
FROM s
"""


def q_crawl_delta(spark, sf_dir):
    """Incremental-crawl snapshot diff (webcrawl.crawl_delta): old =
    pages 0-449, new = pages 50-499 with every 10th page's text changed
    — statuses added/removed/changed/unchanged via md5 fingerprints,
    synthesized identically in the oracle."""
    from colbert_spark.operators.webcrawl import crawl_delta

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    url = _page_url_expr().alias("url")
    old = d.filter(F.col("doc_id") < 450).select(url, "text")
    new = d.filter(F.col("doc_id") >= 50).select(
        url,
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text")).alias("text"))
    return crawl_delta(old, new)


QUERIES["crawl_delta"] = q_crawl_delta

ORACLE["crawl_delta"] = f"""
WITH o AS (
  SELECT {_PAGE_URL_SQL} AS url, md5(text) AS ho
  FROM documents WHERE doc_id < 450
),
n AS (
  SELECT {_PAGE_URL_SQL} AS url,
         md5(CASE WHEN doc_id % 10 = 0 THEN text || ' updated'
                  ELSE text END) AS hn
  FROM documents WHERE doc_id >= 50 AND doc_id < 500
)
SELECT coalesce(o.url, n.url) AS url,
       CASE WHEN o.ho IS NULL THEN 'added'
            WHEN n.hn IS NULL THEN 'removed'
            WHEN o.ho = n.hn THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.url = n.url
"""


# ---------------------------------------------------------------------------
# robots disallow enforcement (webcrawl.robots_filter)
# ---------------------------------------------------------------------------

def q_robots_filter(spark, sf_dir):
    """Robots disallow gate over the page-url fixture: example0.com
    disallows everything under /page/1 (so /page/1, /page/10-19,
    /page/100-199 on that host drop); example1.com disallows all paths.
    Survivors keep (url, doc_id)."""
    from colbert_spark.operators.webcrawl import robots_filter

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    pages = d.select(_page_url_expr().alias("url"), "doc_id")
    rules = spark.createDataFrame(
        [("example0.com", "/page/1"), ("EXAMPLE1.com", "/")],
        "host string, path_prefix string")
    return robots_filter(pages, rules).select("url", "doc_id")


QUERIES["robots_filter"] = q_robots_filter

ORACLE["robots_filter"] = f"""
WITH p AS (
  SELECT {_PAGE_URL_SQL} AS url, doc_id
  FROM documents WHERE doc_id < 500
),
t AS (
  SELECT url, doc_id,
         lower(regexp_extract(url, '{_SQL_URL_RE}', 2)) AS host,
         regexp_extract(url, '{_SQL_URL_RE}', 4) AS path
  FROM p
),
r(host, pp) AS (VALUES ('example0.com', '/page/1'), ('example1.com', '/'))
SELECT url, doc_id FROM t
WHERE NOT EXISTS (
  SELECT 1 FROM r WHERE r.host = t.host AND starts_with(t.path, r.pp)
)
"""


# ---------------------------------------------------------------------------
# BM25 explain: per-term score breakdown (operators/brute.bm25_explain)
# ---------------------------------------------------------------------------

def q_search_explain(spark, sf_dir):
    """Lucene-explain analog: per-term (tf, df, idf, term_score)
    breakdown for every (query, top-10 doc) pair, total repeated per
    row group."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    return brute.bm25_explain(docs, _query_df(spark), k=10)


QUERIES["search_explain"] = q_search_explain

ORACLE["search_explain"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
rk AS (SELECT qid, pid, rank, score FROM ranked WHERE rank <= 10),
contrib AS (
  SELECT qt.qid, tf.pid, qt.term, CAST(tf.tf AS BIGINT) AS tf,
         CAST(dfreq.df AS BIGINT) AS df,
         round(ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0), 6)
           AS idf,
         round(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl)), 6)
           AS term_score
  FROM qt
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
)
SELECT rk.qid, rk.pid, CAST(rk.rank AS BIGINT) AS rank, contrib.term,
       contrib.tf, contrib.df, contrib.idf, contrib.term_score, rk.score
FROM rk JOIN contrib ON rk.qid = contrib.qid AND rk.pid = contrib.pid
"""


# ---------------------------------------------------------------------------
# vocabulary drift between snapshots (textstats.vocab_delta)
# ---------------------------------------------------------------------------

def q_vocab_delta(spark, sf_dir):
    """df drift between two synthetic crawl snapshots: old = docs
    0-399, new = docs 100-499 with ' driftterm' appended to every 4th
    doc — the monitoring signal for topic bursts / extraction
    regressions."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    old = d.filter(F.col("doc_id") < 400).select("doc_id", "text")
    new = d.filter(F.col("doc_id") >= 100).select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit(" driftterm")))
        .otherwise(F.col("text")).alias("text"))
    return textstats.vocab_delta(old, new, k=50)


QUERIES["vocab_delta"] = q_vocab_delta

ORACLE["vocab_delta"] = f"""
WITH o AS (
  SELECT term, count(*) AS df_old FROM (
    SELECT DISTINCT doc_id, unnest({_sql_tokens('text', 220)}) AS term
    FROM documents WHERE doc_id < 400
  ) GROUP BY term
),
n AS (
  SELECT term, count(*) AS df_new FROM (
    SELECT DISTINCT doc_id,
           unnest({_sql_tokens("CASE WHEN doc_id % 4 = 0 THEN text || ' driftterm' ELSE text END", 220)}) AS term
    FROM documents WHERE doc_id >= 100 AND doc_id < 500
  ) GROUP BY term
),
j AS (
  SELECT coalesce(o.term, n.term) AS term,
         CAST(coalesce(df_old, 0) AS BIGINT) AS df_old,
         CAST(coalesce(df_new, 0) AS BIGINT) AS df_new
  FROM o FULL OUTER JOIN n ON o.term = n.term
)
SELECT term, df_old, df_new,
       CAST(df_new - df_old AS BIGINT) AS delta
FROM j ORDER BY abs(df_new - df_old) DESC, term LIMIT 50
"""


# ---------------------------------------------------------------------------
# tf-idf keyword extraction (textstats.extract_keywords)
# ---------------------------------------------------------------------------

def q_keyword_extract(spark, sf_dir):
    """Top-5 tf·ln(N/df) keywords per document (docs 0-199) — the
    more-like-this / cluster-labeling feed."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return textstats.extract_keywords(d, k=5)


QUERIES["keyword_extract"] = q_keyword_extract

ORACLE["keyword_extract"] = f"""
WITH dd AS (
  SELECT doc_id, {_sql_tokens('text', 220)} AS t
  FROM documents WHERE doc_id < 200
),
tok AS (SELECT doc_id, unnest(t) AS term FROM dd),
tf2 AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf2),
dfreq2 AS (SELECT term, count(*) AS df FROM tf2 GROUP BY term),
scored AS (
  SELECT tf2.doc_id, tf2.term, CAST(tf2.tf AS BIGINT) AS tf,
         round(tf2.tf * ln(nn.n / dfreq2.df), 6) AS score
  FROM tf2 JOIN dfreq2 USING (term) CROSS JOIN nn
),
rk AS (
  SELECT doc_id, term, tf, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term) AS kw_rank
  FROM scored
)
SELECT doc_id, term, tf, score, CAST(kw_rank AS BIGINT) AS kw_rank
FROM rk WHERE kw_rank <= 5
"""


# ---------------------------------------------------------------------------
# autocomplete + auto-corrected search (operators/fuzzy.py)
# ---------------------------------------------------------------------------

COMPLETE_PREFIXES: list[str] = ["sc", "f", "wi", "zz"]


def q_suggest_autocomplete(spark, sf_dir):
    """Search-box autocomplete: top-5 dictionary completions per typed
    prefix by (df desc, term asc); 'zz' matches nothing."""
    from colbert_spark.operators import fuzzy

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    token_df = analysis.tokenize_docs(docs, id_col="pid", text_col="text",
                                      maxlen=220)
    tstats = brute.term_stats(token_df)
    pf = spark.createDataFrame([(p,) for p in COMPLETE_PREFIXES],
                               "prefix string")
    return fuzzy.complete_prefix(tstats, pf, k=5)


QUERIES["suggest_autocomplete"] = q_suggest_autocomplete

_SQL_PREFIXES = ", ".join(f"('{p}')" for p in COMPLETE_PREFIXES)

ORACLE["suggest_autocomplete"] = f"""
WITH {_SQL_CORPUS_CTES},
pf(prefix) AS (VALUES {_SQL_PREFIXES}),
m AS (
  SELECT pf.prefix, dfreq.term, CAST(dfreq.df AS BIGINT) AS df,
         row_number() OVER (PARTITION BY pf.prefix
                            ORDER BY dfreq.df DESC, dfreq.term) AS rank
  FROM pf JOIN dfreq ON dfreq.term LIKE pf.prefix || '%'
)
SELECT prefix, term, df, CAST(rank AS BIGINT) AS rank
FROM m WHERE rank <= 5
"""


#: typo'd query set: every OOV term is distance-1 from a vocab term
#: except 'zzzzz' (uncorrectable → silently dropped on both sides)
AUTOCORRECT_QUERY_SET: list[tuple[int, str]] = [
    (0, "scann filtr join"),
    (1, "windoq order sorty"),
    (2, "zzzzz vector"),
    (3, "the fasst key"),
]


def q_search_autocorrect(spark, sf_dir):
    """'Did you mean', applied: OOV query terms auto-corrected via the
    SymSpell distance-1 suggester, then BM25 top-10 over the corrected
    term sets (fuzzy.autocorrect_bm25_topk)."""
    from colbert_spark.operators import fuzzy

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    qs = spark.createDataFrame(AUTOCORRECT_QUERY_SET,
                               "qid long, text string")
    return fuzzy.autocorrect_bm25_topk(docs, qs, k=10)


QUERIES["search_autocorrect"] = q_search_autocorrect

_SQL_AC_VALUES = ", ".join(
    f"(CAST({q} AS BIGINT), '{t}')" for q, t in AUTOCORRECT_QUERY_SET)

ORACLE["search_autocorrect"] = f"""
WITH {_SQL_CORPUS_CTES},
aq(qid, text) AS (VALUES {_SQL_AC_VALUES}),
aqt AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term
        FROM aq),
inv AS (SELECT aqt.qid, aqt.term FROM aqt JOIN dfreq USING (term)),
oovt AS (
  SELECT DISTINCT term AS qterm FROM aqt
  WHERE NOT EXISTS (SELECT 1 FROM dfreq d WHERE d.term = aqt.term)
),
dv AS (
  SELECT term, df, unnest(list_distinct(list_append(
    list_transform(range(1, len(term) + 1),
                   i -> substr(term, 1, i - 1)
                        || substr(term, i + 1, len(term))),
    term))) AS v
  FROM dfreq
),
ov AS (
  SELECT qterm, unnest(list_distinct(list_append(
    list_transform(range(1, len(qterm) + 1),
                   i -> substr(qterm, 1, i - 1)
                        || substr(qterm, i + 1, len(qterm))),
    qterm))) AS v
  FROM oovt
),
cand AS (SELECT DISTINCT qterm, term, df FROM ov JOIN dv USING (v)),
sugg AS (
  SELECT qterm, term FROM (
    SELECT qterm, term,
           row_number() OVER (PARTITION BY qterm
                              ORDER BY levenshtein(qterm, term), df DESC,
                                       term) AS r
    FROM cand WHERE levenshtein(qterm, term) <= 1
  ) WHERE r = 1
),
corrected AS (
  SELECT DISTINCT qid, term FROM (
    SELECT qid, term FROM inv
    UNION ALL
    SELECT aqt.qid, sugg.term FROM aqt JOIN sugg ON aqt.term = sugg.qterm
  )
),
sc2 AS (
  SELECT corrected.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM corrected
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY corrected.qid, tf.pid
),
rk2 AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid)
           AS rank
  FROM sc2
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM rk2 WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# MAP@10 eval (operators/metrics.map_at_k)
# ---------------------------------------------------------------------------

def q_eval_map10(spark, sf_dir):
    """MAP@10 of BM25 vs binary tf-top3 pseudo-qrels (the per-query
    tf-sum top-3 docs, built identically in the oracle)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    token_df = analysis.tokenize_docs(docs, id_col="pid", text_col="text",
                                      maxlen=220)
    qterms = brute.query_terms(_query_df(spark), 32)
    tfsum = (
        token_df.join(F.broadcast(qterms), "term")
        .groupBy("qid", "pid")
        .agg(F.sum("tf").alias("tfs"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("tfs"), F.asc("pid"))
    qrels = (
        tfsum.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 3)
        .select("qid", "pid")
    )
    ranking = q_bm25_top10(spark, sf_dir)
    return metrics.map_at_k(ranking, qrels, k=10).select(
        F.col("map").alias("map10"))


QUERIES["eval_map10"] = q_eval_map10

ORACLE["eval_map10"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED},
tfsum AS (
  SELECT qt.qid, tf.pid, sum(tf.tf) AS tfs
  FROM qt JOIN tf USING (term) GROUP BY qt.qid, tf.pid
),
qrels AS (
  SELECT qid, pid FROM (
    SELECT qid, pid,
           row_number() OVER (PARTITION BY qid ORDER BY tfs DESC, pid) AS r
    FROM tfsum
  ) WHERE r <= 3
),
hits AS (
  SELECT ranked.qid, ranked.rank
  FROM ranked JOIN qrels
    ON ranked.qid = qrels.qid AND ranked.pid = qrels.pid
  WHERE ranked.rank <= 10
),
prec AS (
  SELECT qid,
         row_number() OVER (PARTITION BY qid ORDER BY rank) / rank AS p
  FROM hits
),
perq AS (SELECT qid, sum(p) AS sp FROM prec GROUP BY qid),
relc AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY qid)
SELECT round(avg(coalesce(perq.sp, 0.0) / least(relc.n_rel, 10)), 6)
         AS map10
FROM relc LEFT JOIN perq USING (qid)
"""


# ---------------------------------------------------------------------------
# query-time synonym expansion (operators/expansion.synonym_bm25_topk)
# ---------------------------------------------------------------------------

#: directed thesaurus over the fixture vocabulary; 'rapid' is OOV so the
#: 'fast' expansion is a provable no-op at the dfreq join
SYNONYM_MAP: list[tuple[str, str]] = [
    ("sort", "order"), ("order", "sort"), ("merge", "join"),
    ("fast", "rapid"),
]

SYNONYM_QUERY_SET: list[tuple[int, str]] = [
    (0, "sort filter"),
    (1, "merge key"),
    (2, "fast scan"),
    (3, "zzabsent sort"),
]


def q_search_synonyms(spark, sf_dir):
    """Query-time synonym expansion: each query term contributes its
    thesaurus rows to the term set, expanded terms score with their own
    df/idf through the standard BM25 OR funnel."""
    from colbert_spark.operators import expansion

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    qs = spark.createDataFrame(SYNONYM_QUERY_SET, "qid long, text string")
    syn = spark.createDataFrame(SYNONYM_MAP, "term string, synonym string")
    return expansion.synonym_bm25_topk(docs, qs, syn, k=10)


QUERIES["search_synonyms"] = q_search_synonyms

_SQL_SYN_VALUES = ", ".join(f"('{a}', '{b}')" for a, b in SYNONYM_MAP)
_SQL_SYNQ_VALUES = ", ".join(
    f"(CAST({q} AS BIGINT), '{t}')" for q, t in SYNONYM_QUERY_SET)

ORACLE["search_synonyms"] = f"""
WITH {_SQL_CORPUS_CTES},
syn(term, synonym) AS (VALUES {_SQL_SYN_VALUES}),
sq(qid, text) AS (VALUES {_SQL_SYNQ_VALUES}),
sqt AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term
        FROM sq),
ex AS (
  SELECT DISTINCT qid, term FROM (
    SELECT qid, term FROM sqt
    UNION ALL
    SELECT sqt.qid, syn.synonym AS term FROM sqt JOIN syn USING (term)
  )
),
sc2 AS (
  SELECT ex.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM ex
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY ex.qid, tf.pid
),
rk2 AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid)
           AS rank
  FROM sc2
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM rk2 WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# minimal-stemmer analysis chain (operators/stemming.stemmed_bm25_topk)
# ---------------------------------------------------------------------------

#: co-injected plural-bearing pages (the fixture vocabulary is singular-
#: only, so — as with pii_scrub — BOTH engines union identical synthetic
#: rows to make the stemmer non-vacuous); pids sit far above any sf
STEM_EXTRA_DOCS: list[tuple[int, str]] = [
    (9000000, "scans filters joins windows batches"),
    (9000001, "the sort merges tables fast status class"),
    (9000002, "keys keys keys sorts scan as"),
]

STEM_QUERY_SET: list[tuple[int, str]] = [
    (0, "scans filter"),
    (1, "join windows"),
    (2, "keys sort"),
    (3, "batches merges"),
]

_STEM_CASE = ("CASE WHEN len({t}) >= 3 AND {t} LIKE '%s' "
              "AND substr({t}, len({t}) - 1, 1) NOT IN ('s', 'u') "
              "THEN substr({t}, 1, len({t}) - 1) ELSE {t} END")


def q_search_stemmed(spark, sf_dir):
    """BM25 over the minimal-English-stemmer analysis chain: plural and
    singular forms collapse into one posting on both the document and
    query side ('scans' matches 'scan' in either direction; 'status',
    'class', 'as' untouched)."""
    from colbert_spark.operators import stemming

    base = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    extra = spark.createDataFrame(STEM_EXTRA_DOCS, "pid long, text string")
    qs = spark.createDataFrame(STEM_QUERY_SET, "qid long, text string")
    return stemming.stemmed_bm25_topk(base.unionByName(extra), qs, k=10)


QUERIES["search_stemmed"] = q_search_stemmed

_SQL_STEM_DOCS = ", ".join(
    f"(CAST({p} AS BIGINT), '{t}')" for p, t in STEM_EXTRA_DOCS)
_SQL_STEMQ_VALUES = ", ".join(
    f"(CAST({q} AS BIGINT), '{t}')" for q, t in STEM_QUERY_SET)

ORACLE["search_stemmed"] = f"""
WITH su AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT * FROM (VALUES {_SQL_STEM_DOCS}) exdocs(doc_id, text)
),
sd AS (SELECT doc_id AS pid, {_sql_tokens('text', 220)} AS terms FROM su),
sdl AS (SELECT pid, len(terms) AS doclen FROM sd),
stok AS (
  SELECT pid, {_STEM_CASE.format(t='t')} AS term
  FROM (SELECT pid, unnest(terms) AS t FROM sd)
),
stf AS (SELECT pid, term, count(*) AS tf FROM stok GROUP BY pid, term),
sstats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM sdl),
sdfreq AS (SELECT term, count(*) AS df FROM stf GROUP BY term),
sq(qid, text) AS (VALUES {_SQL_STEMQ_VALUES}),
sqt AS (
  SELECT DISTINCT qid, {_STEM_CASE.format(t='t')} AS term
  FROM (SELECT qid, unnest({_sql_tokens('text', 32)}) AS t FROM sq)
),
sc2 AS (
  SELECT sqt.qid, stf.pid,
         round(sum(
           ln((s.n - sdfreq.df + 0.5) / (sdfreq.df + 0.5) + 1.0)
           * stf.tf * ({K1} + 1.0)
           / (stf.tf + {K1} * (1.0 - {B} + {B} * sdl.doclen / s.avgdl))
         ), 6) AS score
  FROM sqt
  JOIN sdfreq USING (term)
  JOIN stf USING (term)
  JOIN sdl ON stf.pid = sdl.pid
  CROSS JOIN sstats s
  GROUP BY sqt.qid, stf.pid
),
rk2 AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid)
           AS rank
  FROM sc2
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM rk2 WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# index segment merge (plans/merger.merge_indexes)
# ---------------------------------------------------------------------------

def q_search_after_merge(spark, sf_dir):
    """Sharded distributed build end-to-end: index even and odd pids as
    two INDEPENDENT shard indexes (each freezes its own local N/avgdl/
    idf), fold them with merge_indexes — which recomputes every global
    statistic exactly — and search the merged index. The result must be
    bit-identical to the untouched full-corpus BM25 oracle, which is
    only possible if the merge's recomputed stats equal a single
    full-corpus build's (each shard's local stats provably differ)."""
    import hashlib

    from colbert_spark.plans.config import ColBERTConfig
    from colbert_spark.plans.indexer import Indexer
    from colbert_spark.plans.merger import merge_indexes

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    cfg = ColBERTConfig(index_root="/tmp/colbert_spark_indexes")
    shards = [f"entryq_mrg{half}_{tag}" for half in ("a", "b")]
    for par, nm in enumerate(shards):
        Indexer(cfg).index(nm, docs.filter(F.col("pid") % 2 == par),
                           overwrite=True)
    dest = f"entryq_mrgc_{tag}"
    merge_indexes(spark, shards, dest, cfg, overwrite=True)
    return _search_ranked(spark, cfg, dest)


QUERIES["search_after_merge"] = q_search_after_merge

ORACLE["search_after_merge"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED}
SELECT qid, pid, rank, score FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# percolation / stored-query alerting (operators/percolate.py)
# ---------------------------------------------------------------------------

def q_percolate_alerts(spark, sf_dir):
    """Reverse search: the fixed query set registered as standing
    queries, every document percolated through them with AND semantics
    (q8's OOV term means it can never fully match); per query the first
    20 matching pids plus the total match count. Runs the presalted
    two-phase election (presalt=8) so the hot-query scale path is the
    one the oracle checks (identical output for any salt, pytest)."""
    from colbert_spark.operators import percolate

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    return percolate.percolate_topn(docs, _query_df(spark), n=20,
                                    mode="all", presalt=8)


QUERIES["percolate_alerts"] = q_percolate_alerts

ORACLE["percolate_alerts"] = f"""
WITH {_SQL_CORPUS_CTES},
qsz AS (SELECT qid, count(*) AS n_terms FROM qt GROUP BY qid),
dterms AS (SELECT DISTINCT pid, term FROM tf),
h AS (
  SELECT qt.qid, dterms.pid, count(*) AS matched
  FROM dterms JOIN qt USING (term) GROUP BY qt.qid, dterms.pid
),
alla AS (
  SELECT h.qid, h.pid, h.matched
  FROM h JOIN qsz USING (qid) WHERE h.matched = qsz.n_terms
),
tot AS (SELECT qid, count(*) AS total FROM alla GROUP BY qid),
rn AS (
  SELECT qid, pid, matched,
         row_number() OVER (PARTITION BY qid ORDER BY pid) AS rn
  FROM alla
)
SELECT rn.qid, rn.pid, CAST(rn.matched AS BIGINT) AS matched,
       CAST(tot.total AS BIGINT) AS total, CAST(rn.rn AS BIGINT) AS rn
FROM rn JOIN tot USING (qid) WHERE rn.rn <= 20
"""


# ---------------------------------------------------------------------------
# more-like-this (operators/expansion.more_like_this)
# ---------------------------------------------------------------------------

MLT_SEED_PIDS: list[int] = [0, 1, 2, 3, 4]


def q_more_like_this(spark, sf_dir):
    """Lucene MoreLikeThis over seed docs 0-4: top-10 tf·idf
    "interesting terms" per seed run as a BM25 OR query, seed excluded
    → related-pages top-10 per seed."""
    from colbert_spark.operators import expansion

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    seeds = spark.createDataFrame([(p,) for p in MLT_SEED_PIDS], "pid long")
    return expansion.more_like_this(docs, seeds, top_terms=10, k=10)


QUERIES["more_like_this"] = q_more_like_this

_SQL_MLT_SEEDS = ", ".join(f"(CAST({p} AS BIGINT))" for p in MLT_SEED_PIDS)

ORACLE["more_like_this"] = f"""
WITH {_SQL_CORPUS_CTES},
seeds(qid) AS (VALUES {_SQL_MLT_SEEDS}),
st AS (
  SELECT seeds.qid, tf.term,
         round(tf.tf * ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0),
               6) AS w
  FROM seeds
  JOIN tf ON tf.pid = seeds.qid
  JOIN dfreq USING (term)
  CROSS JOIN stats s
),
mqt AS (
  SELECT qid, term FROM (
    SELECT qid, term,
           row_number() OVER (PARTITION BY qid ORDER BY w DESC, term) AS r
    FROM st
  ) WHERE r <= 10
),
sc2 AS (
  SELECT mqt.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM mqt
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  WHERE tf.pid <> mqt.qid
  GROUP BY mqt.qid, tf.pid
),
rk2 AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid)
           AS rank
  FROM sc2
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM rk2 WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# composed crawl → curate → index → search pipeline
# ---------------------------------------------------------------------------

def q_crawl_index_search(spark, sf_dir):
    """End-to-end crawl pipeline as ONE oracle row: synthesize page URLs
    for docs 0-499, enforce robots Disallow rules (webcrawl.
    robots_filter), exact-dedup the survivors (dedup.
    exact_dedup_keep_first — lowest pid per normalized text), build a
    REAL index over what remains (Indexer: Arrow tokenize → salted
    varint posting blocks), and answer the fixed query set with the
    block-max Searcher. The oracle replays the whole funnel — URL
    synthesis, robots gate, dedup election, and BM25 — so a drift in
    ANY stage (or in the index build/search machinery itself) fails the
    hash."""
    import hashlib

    from colbert_spark.operators.dedup import exact_dedup_keep_first
    from colbert_spark.operators.webcrawl import robots_filter
    from colbert_spark.plans.config import ColBERTConfig
    from colbert_spark.plans.indexer import Indexer

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    pages = d.select(_page_url_expr().alias("url"),
                     F.col("doc_id").alias("pid"), "text")
    rules = spark.createDataFrame(
        [("example0.com", "/page/1"), ("EXAMPLE1.com", "/")],
        "host string, path_prefix string")
    kept = robots_filter(pages, rules).select("pid", "text")
    survivors = exact_dedup_keep_first(kept, id_col="pid", text_col="text")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"entryq_pipe_{tag}"
    cfg = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                        index_name=name)
    Indexer(cfg).index(name, survivors, overwrite=True)
    return _search_ranked(spark, cfg, name)


QUERIES["crawl_index_search"] = q_crawl_index_search

ORACLE["crawl_index_search"] = f"""
WITH r(host, pp) AS (VALUES ('example0.com', '/page/1'),
                            ('example1.com', '/')),
p AS (
  SELECT {_PAGE_URL_SQL} AS url, doc_id AS pid, text
  FROM documents WHERE doc_id < 500
),
t AS (
  SELECT url, pid, text,
         lower(regexp_extract(url, '{_SQL_URL_RE}', 2)) AS host,
         regexp_extract(url, '{_SQL_URL_RE}', 4) AS path
  FROM p
),
kept AS (
  SELECT pid, text FROM t
  WHERE NOT EXISTS (
    SELECT 1 FROM r WHERE r.host = t.host AND starts_with(t.path, r.pp)
  )
),
hh AS (
  SELECT pid, text,
         md5(array_to_string(list_filter(regexp_split_to_array(lower(text),
             '[^a-z0-9]+'), x -> x <> ''), ' ')) AS h
  FROM kept
),
keepmin AS (SELECT h, min(pid) AS pid FROM hh GROUP BY h),
surv AS (
  SELECT hh.pid, hh.text FROM hh
  JOIN keepmin ON hh.h = keepmin.h AND hh.pid = keepmin.pid
),
d AS (SELECT pid, {_sql_tokens('text', 220)} AS terms FROM surv),
dl AS (SELECT pid, len(terms) AS doclen FROM d),
tok AS (SELECT pid, unnest(terms) AS term FROM d),
tf AS (SELECT pid, term, count(*) AS tf FROM tok GROUP BY pid, term),
stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q(qid, text) AS (VALUES {_sql_values()}),
qt AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term
       FROM q),
scored AS (
  SELECT qt.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM qt
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY qt.qid, tf.pid
),
ranked AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid)
           AS rank
  FROM scored
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# redirect-chain resolution (webcrawl.resolve_redirects)
# ---------------------------------------------------------------------------

def q_resolve_redirects(spark, sf_dir):
    """301-chain resolution over a synthesized redirect map: within each
    decade of page urls, position p redirects to p+1 (terminal = the
    decade's position-9 url, never a source); every 5th decade's
    position-8 page instead redirects back to position 0, turning that
    decade into a 9-cycle. max_hops=6 so long straight chains (positions
    0-2 need 7-9 hops) are ALSO unresolved — all three contract outcomes
    appear. Pointer doubling in Spark vs a step-at-a-time bounded
    recursive CTE in DuckDB: the shapes must agree exactly."""
    from colbert_spark.operators.webcrawl import resolve_redirects

    d = _docs(spark, sf_dir).filter(
        (F.col("doc_id") < 500) & (F.col("doc_id") % 10 != 9))
    dst_id = F.when(F.col("doc_id") % 50 == 8, F.col("doc_id") - 8) \
              .otherwise(F.col("doc_id") + 1)
    edges = d.select(_page_url_expr().alias("src"),
                     _page_url_expr(dst_id).alias("dst"))
    return resolve_redirects(edges, max_hops=6)


QUERIES["resolve_redirects"] = q_resolve_redirects

ORACLE["resolve_redirects"] = f"""
WITH RECURSIVE e AS (
  SELECT {_page_url_sql('doc_id')} AS src,
         {_page_url_sql('CASE WHEN doc_id % 50 = 8 THEN doc_id - 8 '
                        'ELSE doc_id + 1 END')} AS dst
  FROM documents WHERE doc_id < 500 AND doc_id % 10 <> 9
),
walk(src, cur, hops) AS (
  SELECT src, dst, CAST(1 AS BIGINT) FROM e
  UNION ALL
  SELECT w.src, e.dst, w.hops + 1
  FROM walk w JOIN e ON w.cur = e.src
  WHERE w.hops < 6
),
term AS (
  SELECT w.src, w.cur AS final_url, w.hops
  FROM walk w
  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.cur)
)
SELECT e.src,
       coalesce(t.final_url, '') AS final_url,
       CAST(coalesce(t.hops, -1) AS BIGINT) AS hops,
       CASE WHEN t.src IS NULL THEN 'unresolved'
            ELSE 'resolved' END AS status
FROM e LEFT JOIN term t ON e.src = t.src
"""


# ---------------------------------------------------------------------------
# keyset pagination (brute.bm25_search_after)
# ---------------------------------------------------------------------------

def q_search_page2(spark, sf_dir):
    """Deep paging via search_after: page 1 is the standard top-10
    funnel; its rank-10 row per query becomes the cursor, and page 2 is
    everything strictly after that cursor in (-score, pid) order, top-10.
    The oracle states the semantic claim directly — keyset page 2 must
    be row-identical to ranks 11-20 of one deep ranking, rebased —
    which only holds if the cursor predicate exactly continues the
    round-6-then-rank total order."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    q = _query_df(spark)
    page1 = brute.bm25_topk(docs, q, k=10)
    cursors = page1.filter(F.col("rank") == 10).select(
        "qid", F.col("score").alias("after_score"),
        F.col("pid").alias("after_pid"))
    out = brute.bm25_search_after(docs, q, cursors, k=10)
    return out.select("qid", "pid", F.col("rank").cast("long").alias("rank"),
                      "score")


QUERIES["search_page2"] = q_search_page2

ORACLE["search_page2"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED}
SELECT qid, pid, CAST(rank - 10 AS BIGINT) AS rank, score
FROM ranked WHERE rank > 10 AND rank <= 20
"""


# ---------------------------------------------------------------------------
# minimum_should_match boolean search (phrase.boolean_search msm)
# ---------------------------------------------------------------------------

# msm=2 probes: 3-4 should terms where requiring two changes the match
# set vs at-least-one; q3's empty should list is unmatchable under
# msm=2 (the ES over-constrained contract)
BOOL_MSM_SET: list[tuple[int, str, str, str]] = [
    (0, "scan", "filter join merge", "zzabsent"),
    (1, "window", "sort batch key", ""),
    (2, "data", "stream hash table dup", ""),
    (3, "group", "", ""),
    (4, "customer line", "value batch small slow", "vector"),
]


def _sql_bool_msm_values() -> str:
    return ", ".join(
        f"(CAST({q} AS BIGINT), '{m}', '{s}', '{n}')"
        for q, m, s, n in BOOL_MSM_SET)


def q_boolean_msm_search(spark, sf_dir):
    """minimum_should_match=2 boolean search: docs need ALL must terms,
    at least TWO distinct should terms, and no must_not terms — q3's
    empty should list is therefore unmatchable (zero rows for it), the
    ES semantics when msm exceeds the clause count."""
    from colbert_spark.operators import phrase

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    bq = spark.createDataFrame(
        BOOL_MSM_SET, "qid long, must string, should string, must_not string")
    return phrase.boolean_search(docs, bq, k=10, min_should_match=2)


QUERIES["boolean_msm_search"] = q_boolean_msm_search

ORACLE["boolean_msm_search"] = f"""
WITH {_SQL_CORPUS_CTES},
bq(qid, must, should, must_not) AS (VALUES {_sql_bool_msm_values()}),
ba AS (
  SELECT qid, list_distinct({_sql_tokens('must', 32)}) AS mu,
         list_distinct({_sql_tokens('should', 32)}) AS sh,
         list_distinct({_sql_tokens('must_not', 32)}) AS no
  FROM bq
),
gate AS (
  SELECT ba.qid, d.pid
  FROM d CROSS JOIN ba
  WHERE len(list_filter(mu, x -> NOT list_contains(d.terms, x))) = 0
    AND len(list_filter(sh, x -> list_contains(d.terms, x))) >= 2
    AND len(list_filter(no, x -> list_contains(d.terms, x))) = 0
),
qt2 AS (
  SELECT DISTINCT qid,
         unnest({_sql_tokens("must || ' ' || should", 32)}) AS term
  FROM bq
),
scored2 AS (
  SELECT qt2.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM qt2
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY qt2.qid, tf.pid
),
matched AS (
  SELECT scored2.qid, scored2.pid, scored2.score
  FROM scored2 JOIN gate
    ON scored2.qid = gate.qid AND scored2.pid = gate.pid
),
rb AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, pid) AS rank
  FROM matched
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM rb WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# fuzzy retrieval (fuzzy.fuzzy_bm25_topk — Lucene FuzzyQuery semantics)
# ---------------------------------------------------------------------------

# misspellings, an exact in-vocab term (also expands to its distance-1
# neighbors), and an unexpandable nonsense term
FUZZY_QUERY_SET: list[tuple[int, str]] = [
    (0, "scann filtr join"),
    (1, "windoq sorty"),
    (2, "tabel merge"),
    (3, "zzzqx data"),
]


def q_fuzzy_search(spark, sf_dir):
    """Fuzzy retrieval: every query term expands to ALL dictionary terms
    within edit distance 1 (in-vocab terms keep their neighbors too),
    union scored as a BM25 OR query. The Spark side finds the
    neighborhood via the SymSpell shared-deletion equi-join; the oracle
    states the brute levenshtein<=1 contract over the whole dictionary —
    the hash match proves the neighborhood join is exact."""
    from colbert_spark.operators import fuzzy

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    qs = spark.createDataFrame(FUZZY_QUERY_SET, "qid long, text string")
    return fuzzy.fuzzy_bm25_topk(docs, qs, k=10)


QUERIES["fuzzy_search"] = q_fuzzy_search

_SQL_FUZZY_VALUES = ", ".join(
    f"(CAST({q} AS BIGINT), '{t}')" for q, t in FUZZY_QUERY_SET)

ORACLE["fuzzy_search"] = f"""
WITH {_SQL_CORPUS_CTES},
fq(qid, text) AS (VALUES {_SQL_FUZZY_VALUES}),
fqt AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS qterm
        FROM fq),
exp AS (
  SELECT DISTINCT fqt.qid, dfreq.term
  FROM fqt JOIN dfreq ON levenshtein(fqt.qterm, dfreq.term) <= 1
),
scoredf AS (
  SELECT exp.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM exp
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY exp.qid, tf.pid
),
rf AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score DESC, pid) AS rank
  FROM scoredf
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM rf WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# incremental crawl cycle: delta → updater → optimize-merge → search
# ---------------------------------------------------------------------------

def q_incremental_crawl_search(spark, sf_dir):
    """The COMPLETE incremental-crawl maintenance story as one checked
    row: index the OLD snapshot (docs 0-449); diff it against the NEW
    snapshot (docs 50-499, every 10th text changed) with
    webcrawl.crawl_delta; drive IndexUpdater from the delta statuses
    (removed → tombstone, changed → tombstone + fresh-epoch re-add with
    the new text, added → append); then fold the result with the 1-ary
    optimize merge (plans/merger.merge_indexes), which recomputes every
    global statistic from live postings. The searched result must be
    bit-identical to the untouched BM25 oracle over the NEW snapshot —
    only possible if delta routing, epoch-bounded tombstones,
    stale-doc_stats pruning on re-add, AND the merge's stats recompute
    are all exact."""
    import hashlib

    from colbert_spark.operators.webcrawl import crawl_delta
    from colbert_spark.plans.config import ColBERTConfig
    from colbert_spark.plans.index_updater import IndexUpdater
    from colbert_spark.plans.indexer import Indexer
    from colbert_spark.plans.merger import merge_indexes

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    url = _page_url_expr().alias("url")
    new_text = (
        F.when(F.col("doc_id") % 10 == 0,
               F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text")).alias("text")
    )
    old = d.filter(F.col("doc_id") < 450).select(
        url, F.col("doc_id").alias("pid"), "text")
    new = d.filter(F.col("doc_id") >= 50).select(
        url, F.col("doc_id").alias("pid"), new_text)

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = f"entryq_incr_{tag}"
    cfg = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                        index_name=base)
    Indexer(cfg).index(base, old.select("pid", "text"), overwrite=True)

    delta = crawl_delta(old, new)
    url2pid = old.select("url", "pid").unionByName(
        new.select("url", "pid")).distinct()
    dd = delta.join(url2pid, "url")
    gone = sorted(r["pid"] for r in dd.filter(
        F.col("status").isin("removed", "changed")).collect())
    upd = IndexUpdater(base, spark, cfg)
    upd.remove(gone)
    to_add = dd.filter(F.col("status").isin("added", "changed")) \
               .select("pid")
    upd.add(new.join(to_add, "pid").select("pid", "text"))

    opt = f"{base}_opt"
    merge_indexes(spark, [base], opt, cfg, overwrite=True)
    cfg_opt = ColBERTConfig(index_root="/tmp/colbert_spark_indexes",
                            index_name=opt)
    return _search_ranked(spark, cfg_opt, opt)


QUERIES["incremental_crawl_search"] = q_incremental_crawl_search

ORACLE["incremental_crawl_search"] = f"""
WITH nd AS (
  SELECT doc_id AS pid,
         CASE WHEN doc_id % 10 = 0 THEN text || ' updated'
              ELSE text END AS text
  FROM documents WHERE doc_id >= 50 AND doc_id < 500
),
d AS (SELECT pid, {_sql_tokens('text', 220)} AS terms FROM nd),
dl AS (SELECT pid, len(terms) AS doclen FROM d),
tok AS (SELECT pid, unnest(terms) AS term FROM d),
tf AS (SELECT pid, term, count(*) AS tf FROM tok GROUP BY pid, term),
stats AS (SELECT count(*) AS n, avg(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
q(qid, text) AS (VALUES {_sql_values()}),
qt AS (SELECT DISTINCT qid, unnest({_sql_tokens('text', 32)}) AS term
       FROM q),
scored AS (
  SELECT qt.qid, tf.pid,
         round(sum(
           ln((s.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
           * tf.tf * ({K1} + 1.0)
           / (tf.tf + {K1} * (1.0 - {B} + {B} * dl.doclen / s.avgdl))
         ), 6) AS score
  FROM qt
  JOIN dfreq USING (term)
  JOIN tf USING (term)
  JOIN dl ON tf.pid = dl.pid
  CROSS JOIN stats s
  GROUP BY qt.qid, tf.pid
),
ranked AS (
  SELECT qid, pid, score,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, pid)
           AS rank
  FROM scored
)
SELECT qid, pid, CAST(rank AS BIGINT) AS rank, score
FROM ranked WHERE rank <= 10
"""


# ---------------------------------------------------------------------------
# sitemap discovery gap (webcrawl.sitemap_urls / sitemap_gap)
# ---------------------------------------------------------------------------

def q_sitemap_gap(spark, sf_dir):
    """Crawl-discovery gap: per-host sitemap XML (synthesized — hosts
    list every crawled page PLUS 100 never-crawled ids 500-599,
    <loc>-entries sorted) anti-joined against the crawled url set; the
    gap must be exactly the 100 uncrawled urls with their hosts. The
    oracle replays XML synthesis, <loc> extraction, and the anti-join."""
    from colbert_spark.operators.webcrawl import sitemap_gap

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500)
    ids = d.select(F.col("doc_id").alias("id")).unionAll(
        d.filter(F.col("doc_id") < 100)
         .select((F.col("doc_id") + 500).alias("id")))
    entries = ids.select(
        (F.col("id") % 7).cast("string").alias("hostn"),
        F.concat(F.lit("<url><loc>"), _page_url_expr(F.col("id")),
                 F.lit("</loc></url>")).alias("entry"))
    sitemaps = entries.groupBy("hostn").agg(
        F.concat(
            F.lit('<?xml version="1.0"?><urlset>'),
            F.array_join(F.array_sort(F.collect_list("entry")), ""),
            F.lit("</urlset>"),
        ).alias("xml")
    ).select(F.concat(F.lit("example"), F.col("hostn"), F.lit(".com"))
             .alias("host"), "xml")
    crawled = d.select(_page_url_expr().alias("url"))
    return sitemap_gap(sitemaps, crawled)


QUERIES["sitemap_gap"] = q_sitemap_gap

ORACLE["sitemap_gap"] = f"""
WITH ids AS (
  SELECT doc_id AS id FROM documents WHERE doc_id < 500
  UNION ALL
  SELECT doc_id + 500 FROM documents WHERE doc_id < 100
),
entries AS (
  SELECT CAST(id % 7 AS VARCHAR) AS hostn,
         '<url><loc>' || {_page_url_sql('id')} || '</loc></url>' AS entry
  FROM ids
),
sm AS (
  SELECT 'example' || hostn || '.com' AS host,
         '<?xml version="1.0"?><urlset>'
           || string_agg(entry, '' ORDER BY entry) || '</urlset>' AS xml
  FROM entries GROUP BY hostn
),
listed AS (
  SELECT host, unnest(regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1))
           AS url
  FROM sm
),
crawled AS (
  SELECT {_PAGE_URL_SQL} AS url FROM documents WHERE doc_id < 500
)
SELECT listed.host, listed.url
FROM listed LEFT JOIN crawled ON listed.url = crawled.url
WHERE crawled.url IS NULL
"""


# ---------------------------------------------------------------------------
# encoding / mojibake quality gate (textstats.encoding_quality)
# ---------------------------------------------------------------------------

def q_quality_encoding(spark, sf_dir):
    """UTF-8 hygiene gate: the fixture text is clean ASCII, so both
    engines co-inject identical damage — every 17th doc gets a CP1252
    mojibake snippet (' caf\u00c3\u00a9 \u00e2\u20ac\u2122' — UTF-8
    read as CP1252) and every 23rd a U+FFFD replacement char; the
    operator's counts and clean flag must replay exactly in DuckDB
    (same regex, chr()-built)."""
    moji = " caf\u00c3\u00a9 \u00e2\u20ac\u2122"
    bad = " bad\ufffd"
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 500).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 17 == 0, F.lit(moji)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 23 == 0, F.lit(bad)).otherwise(F.lit("")),
        ).alias("text"))
    return textstats.encoding_quality(d)


QUERIES["quality_encoding"] = q_quality_encoding

_MOJI_SQL = ("' caf' || chr(195) || chr(169) || ' ' || chr(226) || "
             "chr(8364) || chr(8482)")
_MOJI_RE_SQL = ("chr(195) || '[' || chr(128) || '-' || chr(191) || ']|' "
                "|| chr(226) || chr(8364)")

ORACLE["quality_encoding"] = f"""
WITH p AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 17 = 0 THEN {_MOJI_SQL} ELSE '' END
           || CASE WHEN doc_id % 23 = 0 THEN ' bad' || chr(65533)
              ELSE '' END AS text
  FROM documents WHERE doc_id < 500
),
c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, chr(65533), 0)) AS BIGINT)
           AS fffd_count,
         CAST(len(regexp_extract_all(text, {_MOJI_RE_SQL}, 0)) AS BIGINT)
           AS mojibake_count
  FROM p
)
SELECT doc_id, fffd_count, mojibake_count,
       (fffd_count = 0 AND mojibake_count = 0) AS clean
FROM c
"""


# ---------------------------------------------------------------------------
# stateless (stream-capable) percolation (percolate.percolate_inrow)
# ---------------------------------------------------------------------------

def q_percolate_stream_alerts(spark, sf_dir):
    """The stream-capable percolation shape over the full corpus with
    OR semantics: matching computed in-row (array_intersect against
    broadcast query-term arrays — zero shuffles, zero state; the same
    expression runs unchanged on a Structured Stream, stream/batch
    parity pytest-proven). The oracle replays the match contract
    relationally."""
    from colbert_spark.operators import percolate

    docs = _docs(spark, sf_dir).select(F.col("doc_id").alias("pid"), "text")
    return percolate.percolate_inrow(docs, _query_df(spark), mode="any")


QUERIES["percolate_stream_alerts"] = q_percolate_stream_alerts

ORACLE["percolate_stream_alerts"] = f"""
WITH {_SQL_CORPUS_CTES},
dterms AS (SELECT DISTINCT pid, term FROM tf)
SELECT qt.qid, dterms.pid, CAST(count(*) AS BIGINT) AS matched
FROM dterms JOIN qt USING (term) GROUP BY qt.qid, dterms.pid
"""


# ---------------------------------------------------------------------------
# temperature mixture sampling (sampling.mix_by_temperature)
# ---------------------------------------------------------------------------

def q_domain_mix_temperature(spark, sf_dir):
    """XLM-R-style temperature mixing at alpha=0.5 over a 3000-token
    budget: stratum shares q_i = sqrt(p_i)/sum sqrt(p_j) flatten the
    source distribution toward uniform; the whole share → target → ppm →
    kept chain (with the round-before-floor guards that make pow()
    replay across engines) is hash-checked."""
    from colbert_spark.operators.sampling import mix_by_temperature

    return mix_by_temperature(
        _docs(spark, sf_dir), alpha=0.5, total_budget=3000,
        portable_hash=True,
    )


QUERIES["domain_mix_temperature"] = q_domain_mix_temperature

ORACLE["domain_mix_temperature"] = f"""
WITH b AS (
  SELECT doc_id, source,
         CAST(len(list_filter(regexp_split_to_array(lower(text),
              '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n,
         {_H_DOC42} % 1000000 AS bucket
  FROM documents
),
t AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n) AS BIGINT) AS total_tokens
  FROM b GROUP BY source
),
w AS (
  SELECT *, pow(CAST(total_tokens AS DOUBLE), 0.5) AS wv FROM t
),
ws AS (SELECT sum(wv) AS wsum FROM w),
p AS (
  SELECT w.source, w.n_docs, w.total_tokens,
         round(w.wv / ws.wsum, 9) AS share9
  FROM w CROSS JOIN ws
),
p2 AS (
  SELECT source, n_docs, total_tokens,
         round(share9, 6) AS share,
         CAST(floor(round(3000 * share9, 6)) AS BIGINT) AS target_tokens
  FROM p
),
p3 AS (
  SELECT *,
         CASE WHEN total_tokens = 0 THEN CAST(1000000 AS BIGINT)
              ELSE CAST(floor(least(1.0,
                     round(target_tokens * 1.0 / total_tokens, 9))
                   * 1000000) AS BIGINT) END AS keep_ppm
  FROM p2
),
k AS (
  SELECT b.source, count(*) AS kept_docs,
         CAST(sum(b.n) AS BIGINT) AS kept_tokens
  FROM b JOIN p3 ON b.source = p3.source
  WHERE b.bucket < p3.keep_ppm GROUP BY b.source
)
SELECT p3.source, p3.n_docs, p3.total_tokens, p3.share, p3.target_tokens,
       p3.keep_ppm,
       CAST(COALESCE(k.kept_docs, 0) AS BIGINT) AS kept_docs,
       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
FROM p3 LEFT JOIN k ON p3.source = k.source
"""


# ---------------------------------------------------------------------------
# indexed keyset pagination (Searcher.search_all(after=...))
# ---------------------------------------------------------------------------

def q_search_page2_indexed(spark, sf_dir):
    """search_after over the REAL index: page 1 from the indexed
    Searcher, its rank-10 rows as cursors, page 2 via
    search_all(after=...) — exercising the cursor path through the
    postings scan and the scatter plan, which prunes at or above the
    cursor before the rank window. Must hash-match ranks 11-20 of the
    untouched deep BM25 oracle, rebased."""
    s = _indexed_searcher(spark, sf_dir)
    q = _query_df(spark)
    page1 = s.search_all(q, k=10).df
    cursors = page1.filter(F.col("rank") == 10).select(
        "qid", F.col("score").alias("after_score"),
        F.col("pid").alias("after_pid"))
    out = s.search_all(q, k=10, after=cursors).df
    return out.select("qid", "pid", F.col("rank").cast("long").alias("rank"),
                      "score")


QUERIES["search_page2_indexed"] = q_search_page2_indexed

ORACLE["search_page2_indexed"] = f"""
WITH {_SQL_CORPUS_CTES}, {_SQL_BM25_SCORED}
SELECT qid, pid, CAST(rank - 10 AS BIGINT) AS rank, score
FROM ranked WHERE rank > 10 AND rank <= 20
"""
