"""Sources: TSV round-trips, format validation, pid assignment, splitter."""

from __future__ import annotations

import json

import numpy as np
import pytest
import pyspark.sql.functions as F

from colbert_spark.sources.collection import (
    assign_pids,
    load_collection_tsv,
    save_collection_tsv,
)
from colbert_spark.sources.queries import (
    docs2passages,
    load_qrels_tsv,
    load_queries_tsv,
    save_queries_tsv,
)
from colbert_spark.sources.ranking import Ranking


def test_assign_pids_dense_and_deterministic(spark):
    rows = [(f"https://x.org/{i:05d}", f"doc {i}") for i in (5, 3, 9, 1, 7)]
    docs = spark.createDataFrame(rows, "url string, text string")
    a = {r["url"]: r["pid"] for r in assign_pids(docs, "url", 3).collect()}
    b = {r["url"]: r["pid"] for r in
         assign_pids(docs.repartition(5), "url", 2).collect()}
    assert a == b  # partitioning-independent
    urls = sorted(a)
    assert [a[u] for u in urls] == [0, 1, 2, 3, 4]  # dense, order-of-url


def test_collection_tsv_roundtrip_and_title_concat(spark, tmp_path):
    p = tmp_path / "col.tsv"
    p.write_text("0\tfirst passage\tTitle A\n1\tsecond passage\tTitle B\n")
    df = load_collection_tsv(spark, str(p))
    rows = {r["pid"]: r["text"] for r in df.collect()}
    # title concatenated 'title | passage' (loaders.py:164)
    assert rows[0] == "Title A | first passage"
    out = tmp_path / "out"
    save_collection_tsv(df, str(out))
    back = spark.read.csv(str(out), sep="\t").count()
    assert back == 2


def test_queries_tsv_uniqueness_enforced(spark, tmp_path):
    p = tmp_path / "q.tsv"
    p.write_text("1\talpha\n1\tbeta\n")
    with pytest.raises(ValueError, match="unique"):
        load_queries_tsv(spark, str(p))
    p2 = tmp_path / "q2.tsv"
    p2.write_text("1\talpha\n2\tbeta\n")
    assert load_queries_tsv(spark, str(p2)).count() == 2


def test_qrels_format_validated(spark, tmp_path):
    good = tmp_path / "good.tsv"
    good.write_text("1\t0\t10\t1\n1\t0\t10\t1\n2\t0\t20\t1\n")
    df = load_qrels_tsv(spark, str(good))
    assert df.count() == 2  # deduped
    bad = tmp_path / "bad.tsv"
    bad.write_text("1\t9\t10\t1\n")
    with pytest.raises(ValueError, match="format"):
        load_qrels_tsv(spark, str(bad))


def test_ranking_tsv_roundtrip_with_meta(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10, 1, 3.5), (1, 11, 2, 2.5)],
        "qid long, pid long, rank int, score double",
    )
    r = Ranking(df, provenance={"k": 2})
    path = r.save(str(tmp_path / "r.tsv"))
    assert (tmp_path / "r.tsv.meta").exists()
    back = Ranking.load(spark, path)
    assert back.flat_ranking() == [(1, 10, 1, 3.5), (1, 11, 2, 2.5)]
    assert back.todict() == {1: [(10, 1, 3.5), (11, 2, 2.5)]}


def test_docs2passages_windows(spark):
    docs = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(45))), (1, "short doc")],
        "pid long, text string",
    )
    out = docs2passages(docs, max_words=20).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["passage_idx"], r["passage"]))
    assert len(by_doc[0]) == 3  # 20 + 20 + 5
    assert by_doc[0][0][1].startswith("w0 ") and by_doc[0][2][1].endswith("w44")
    assert len(by_doc[1]) == 1


def test_unicode_and_degenerate_docs(spark, tmp_path):
    """Robustness: unicode, empty, punctuation-only docs index and search
    without errors and never appear for unrelated queries."""
    from colbert_spark.plans.config import ColBERTConfig
    from colbert_spark.plans.indexer import Indexer
    from colbert_spark.plans.searcher import Searcher

    docs = spark.createDataFrame(
        [(0, "Héllo wörld ünïcode text"), (1, ""), (2, "!!! ??? ..."),
         (3, "plain english words here"), (4, "数据 处理 引擎")],
        "pid long, text string",
    )
    cfg = ColBERTConfig(index_root=str(tmp_path), index_partitions=4)
    Indexer(cfg).index("uni", docs, overwrite=True)
    s = Searcher("uni", spark, cfg)
    pids, _, _ = s.search("english words", k=5)
    assert pids == [3]
    # the ascii-token rule splits on non-alnum: 'h' 'llo' 'w' 'rld'...
    pids2, _, _ = s.search("llo", k=5)
    assert pids2 == [0]


def test_split_by_queries(spark, tmp_path):
    from colbert_spark.sources.ranking import split_by_queries

    ranking = spark.createDataFrame(
        [(q, 10 + q, 1, 5.0) for q in range(6)],
        "qid long, pid long, rank int, score double",
    )
    paths = split_by_queries(
        ranking, {"dev": [0, 1], "test": [2, 3]}, str(tmp_path / "splits")
    )
    dev = {r["qid"] for r in spark.read.parquet(paths["dev"]).collect()}
    rest = {r["qid"] for r in spark.read.parquet(paths["_rest"]).collect()}
    assert dev == {0, 1} and rest == {4, 5}


def test_docs2passages_wrap_reference_parity(spark):
    """Reference semantics (utility/preprocess/docs2passages.py:26-34):
    every passage has exactly nwords words (wraparound) or len(words) when
    the doc is short; offsets step by nwords − overlap up to
    len(words) − overlap. Checked against an independent Python replica of
    the published algorithm."""
    from colbert_spark.sources.queries import docs2passages_wrap

    def py_ref(words, nwords, overlap):
        doubled = words + words if len(words) > nwords else words
        return [
            " ".join(doubled[off:off + nwords])
            for off in range(0, len(words) - overlap, nwords - overlap)
        ]

    texts = [
        " ".join(f"w{i}" for i in range(n))
        for n in (0, 1, 4, 5, 6, 19, 20, 21, 33, 50)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "pid long, text string"
    )
    for nwords, overlap in ((5, 0), (5, 2), (20, 5)):
        got = {}
        rows = docs2passages_wrap(docs, nwords=nwords, overlap=overlap).collect()
        for r in rows:
            got.setdefault(r["doc_id"], {})[r["passage_idx"]] = r["passage"]
        for pid, text in enumerate(texts):
            expected = py_ref(text.split(), nwords, overlap)
            got_list = [got.get(pid, {}).get(i) for i in range(len(expected))]
            assert got_list == expected, (pid, nwords, overlap)
            assert len(got.get(pid, {})) == len(expected)


def test_split_by_offset(spark):
    from colbert_spark.sources.ranking import split_by_offset

    gap = 1000
    rows = [(gap * s + q, q * 7, r) for s in (1, 2, 3)
            for q in (0, 5, 42) for r in (1, 2)]
    ranking = spark.createDataFrame(rows, "qid long, pid long, rank long")
    splits = split_by_offset(ranking, gap, names=("train", "dev", "test"))
    assert set(splits) == {"train", "dev", "test"}
    for i, name in enumerate(("train", "dev", "test")):
        out = {(r["qid"], r["pid"], r["rank"]) for r in splits[name].collect()}
        assert out == {(q, q * 7, r) for q in (0, 5, 42) for r in (1, 2)}, name


def test_dpr_normalize_reference_semantics(spark):
    """DPR_normalize parity on the published spec (utility/utils/dpr.py:
    144-145, 218-223): NFD first, maximal L/N/M runs, single non-Z/C
    chars, lowercased; has_answer = token-subsequence containment."""
    from colbert_spark.functions import dpr

    assert dpr.dpr_tokens("Ethics, by ARISTOTLE!") == [
        "ethics", ",", "by", "aristotle", "!"]
    # NFD keeps combining marks inside the token (M ∈ ALPHA_NUM)
    import unicodedata
    assert dpr.dpr_tokens("Café") == [unicodedata.normalize("NFD", "café")]
    # apostrophes split (not in L/N/M)
    assert dpr.dpr_tokens("don't") == ["don", "'", "t"]
    # separators/controls vanish
    assert dpr.dpr_tokens("a\tb c\nd") == ["a", "b", "c", "d"]
    assert dpr.dpr_tokens("") == []

    # end-to-end: annotate + metrics on a hand-built ranking
    collection = spark.createDataFrame(
        [(0, "the Quick brown fox"), (1, "nothing here"),
         (2, "quick  brown dogs")],
        "pid long, text string",
    )
    ranking = spark.createDataFrame(
        [(7, 0, 1), (7, 1, 2), (7, 2, 3)], "qid long, pid long, rank long"
    )
    answers = spark.createDataFrame(
        [(7, "QUICK Brown")], "qid long, answer string"
    )
    labeled = {(r["pid"]): r["label"]
               for r in dpr.annotate_ranking(ranking, collection,
                                             answers).collect()}
    assert labeled == {0: 1, 1: 0, 2: 1}
    m = {r["cutoff"]: (r["success"], r["counts"])
         for r in dpr.em_metrics(
             dpr.annotate_ranking(ranking, collection, answers),
             cutoffs=(1, 2, 3)).collect()}
    assert m == {1: (1.0, 1.0), 2: (1.0, 1.0), 3: (1.0, 2.0)}


def test_ranking_save_distributed(spark, tmp_path):
    from colbert_spark.sources.ranking import Ranking

    df = spark.createDataFrame(
        [(q, q * 10 + r, r, 10.0 - r) for q in range(4) for r in (1, 2)],
        "qid long, pid long, rank int, score double",
    )
    r = Ranking(df, {"engine": "test"})
    out = str(tmp_path / "rank_dir")
    r.save_distributed(out, partition_by_qid_buckets=2)
    back = Ranking.load(spark, out + "/qbucket=*").df.collect()
    assert {(x["qid"], x["pid"], x["rank"], x["score"]) for x in back} == {
        (q, q * 10 + rr, rr, 10.0 - rr) for q in range(4) for rr in (1, 2)
    }
    import json as _json
    assert _json.loads((tmp_path / "rank_dir.meta").read_text())[
        "provenance"]["engine"] == "test"


def test_tune_best_run(tmp_path):
    from colbert_spark.sources.tuning import tune_best_run

    paths = []
    for i, s in enumerate((0.3, 0.9, 0.5)):
        p = tmp_path / f"run{i}.metrics.json"
        p.write_text(json.dumps({"success": {"20": s}}))
        paths.append(str(p))
    best, scores = tune_best_run(paths, "success.20",
                                 output=str(tmp_path / "best.txt"))
    assert best == paths[1]
    assert (tmp_path / "best.txt").read_text() == paths[1]
    assert json.loads((tmp_path / "best.txt.meta").read_text())[
        "scores"][paths[1]] == 0.9


def test_split_queries_holdout(spark):
    import random as _random
    from colbert_spark.sources.tuning import split_queries_holdout

    qs = spark.createDataFrame(
        [(i * 3, f"q {i}") for i in range(50)], "qid long, text string"
    )
    main, hold = split_queries_holdout(qs, holdout=10, seed=12345)
    main_ids = {r["qid"] for r in main.collect()}
    hold_ids = {r["qid"] for r in hold.collect()}
    assert len(hold_ids) == 10 and len(main_ids) == 40
    assert not (main_ids & hold_ids)
    # exact reference sampling rule: random.sample over qid-ordered positions
    expected = {sorted(i * 3 for i in range(50))[p]
                for p in _random.Random(12345).sample(range(50), 10)}
    assert hold_ids == expected


def test_lotte_qas_and_success_at_k(spark, tmp_path):
    from colbert_spark.sources.queries import load_qas_jsonl, lotte_success_at_k

    qas_path = tmp_path / "qas.jsonl"
    qas_path.write_text("\n".join([
        json.dumps({"qid": 1, "question": "a?", "answer_pids": [10, 11]}),
        json.dumps({"qid": 2, "question": "b?", "answer_pids": [20]}),
        json.dumps({"qid": 3, "question": "c?", "answer_pids": [30]}),
    ]))
    qas = load_qas_jsonl(spark, str(qas_path))
    assert {r["qid"]: sorted(r["answer_pids"]) for r in qas.collect()} == {
        1: [10, 11], 2: [20], 3: [30]}
    ranking = spark.createDataFrame(
        [(1, 11, 1), (1, 99, 2),      # hit at rank 1
         (2, 98, 1), (2, 20, 2)],     # hit at rank 2 (outside k=1)
        "qid long, pid long, rank int",  # qid 3 missing entirely → miss
    )
    row = lotte_success_at_k(ranking, qas, k=1).first()
    assert row["success"] == pytest.approx(1 / 3, abs=1e-6)
    row5 = lotte_success_at_k(ranking, qas, k=5).first()
    assert row5["success"] == pytest.approx(2 / 3, abs=1e-6)


def test_sample_minicorpus(spark):
    from colbert_spark.sources.tuning import sample_minicorpus, split_queries_holdout

    collection = spark.createDataFrame(
        [(p, f"doc {p}") for p in range(100)], "pid long, text string")
    queries = spark.createDataFrame(
        [(q, f"q {q}") for q in range(20)], "qid long, text string")
    ranking = spark.createDataFrame(
        [(q, q * 5 + r, r + 1) for q in range(20) for r in range(3)],
        "qid long, pid long, rank int")
    mini_c, mini_q = sample_minicorpus(collection, ranking, queries,
                                       n_queries=4, topk=2)
    qids = {r["qid"] for r in mini_q.collect()}
    assert len(qids) == 4
    _, expect_q = split_queries_holdout(queries, holdout=4)
    assert qids == {r["qid"] for r in expect_q.collect()}
    pids = {r["pid"] for r in mini_c.collect()}
    assert pids == {q * 5 + r for q in qids for r in range(2)}


def test_load_examples_jsonl(spark, tmp_path):
    from colbert_spark.sources.queries import load_examples_jsonl

    p = tmp_path / "triples.jsonl"
    p.write_text("\n".join([
        "[1, 10, 20, 21, 22]",
        "[2, 30, 40]",
    ]))
    rows = {r["qid"]: r for r in load_examples_jsonl(spark, str(p)).collect()}
    assert rows[1]["pid_pos"] == 10 and rows[1]["pid_negs"] == [20, 21, 22]
    assert rows[2]["pid_pos"] == 30 and rows[2]["pid_negs"] == [40]
    # nway truncation (examples.py:24: keep nway+1 entries)
    rows2 = {r["qid"]: r for r in
             load_examples_jsonl(spark, str(p), nway=2).collect()}
    assert rows2[1]["pid_negs"] == [20]


def test_docs2passages_wrap_property(spark):
    """Property check across random (n_words, nwords, overlap): every
    passage has exactly nwords words (or n_words when the doc is short),
    and passage count equals the reference's offset arithmetic."""
    import math

    from hypothesis import given, settings, strategies as st

    from colbert_spark.sources.queries import docs2passages_wrap

    cases = []

    @settings(max_examples=30, deadline=None)
    @given(n=st.integers(0, 120), nwords=st.integers(2, 40),
           overlap=st.integers(0, 39))
    def collect(n, nwords, overlap):
        if overlap < nwords:
            cases.append((n, nwords, overlap))

    collect()
    # one Spark job for all sampled cases (per-case jobs would be slow)
    by_params = {}
    for i, (n, nwords, overlap) in enumerate(cases):
        by_params.setdefault((nwords, overlap), []).append((i, n))
    for (nwords, overlap), items in by_params.items():
        docs = spark.createDataFrame(
            [(i, " ".join(f"w{j}" for j in range(n))) for i, n in items],
            "pid long, text string",
        )
        rows = docs2passages_wrap(docs, nwords=nwords,
                                  overlap=overlap).collect()
        got = {}
        for r in rows:
            got.setdefault(r["doc_id"], []).append(len(r["passage"].split()))
        for i, n in items:
            expect_cnt = len(range(0, n - overlap, nwords - overlap))
            lens = got.get(i, [])
            assert len(lens) == expect_cnt, (n, nwords, overlap)
            for ln in lens:
                assert ln == (nwords if n > nwords else n), (n, nwords, overlap)
