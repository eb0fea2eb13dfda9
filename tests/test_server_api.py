"""Serving helpers: memoized api_search with softmax probs; hop search."""

from __future__ import annotations

import numpy as np
import pytest

from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.plans.indexer import Indexer
from colbert_spark.plans.searcher import Searcher
from colbert_spark.server import hop_search, make_api
from colbert_spark.sources.collection import load_collection_jsonl
from colbert_spark.sources.datagen import gen_docs_pdf


@pytest.fixture(scope="module")
def searcher(spark, tmp_path_factory):
    cfg = ColBERTConfig(index_root=str(tmp_path_factory.mktemp("idx")),
                        index_partitions=4)
    docs_pdf = gen_docs_pdf(np.arange(150))
    docs_pdf["pid"] = np.arange(150)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    Indexer(cfg).index("srv", docs, overwrite=True)
    return Searcher("srv", spark, cfg), docs_pdf


def test_api_search_probs_and_cache(searcher):
    s, _ = searcher
    api = make_api(s)
    out = api("t00000 t00011", k=5)
    assert out and abs(sum(r["prob"] for r in out) - 1.0) < 1e-9
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))
    assert out is api("t00000 t00011", k=5)  # cache hit → same object
    assert api("zzabsent", k=5) == ()


def test_api_cache_is_keyed_on_the_pinned_version(spark, tmp_path):
    """No answer cached before Searcher.refresh() is served after it: a
    removal stays invisible while the searcher holds its version, then
    shows at once after refresh — and a rebuild of the index under the
    same name continues the version numbers, so it cannot reuse a key."""
    from colbert_spark.plans.index_updater import IndexUpdater

    cfg = ColBERTConfig(index_root=str(tmp_path), index_partitions=4)
    docs_pdf = gen_docs_pdf(np.arange(60))
    docs_pdf["pid"] = np.arange(60)
    docs = spark.createDataFrame(docs_pdf[["pid", "text"]])
    Indexer(cfg).index("srv2", docs, overwrite=True)
    s = Searcher("srv2", spark, cfg)
    api = make_api(s)
    out = api("t00000 t00011", k=5)
    top = out[0]["pid"]
    IndexUpdater("srv2", spark, cfg).remove([top])
    assert api("t00000 t00011", k=5) is out  # still the pinned version
    s.refresh()
    after = api("t00000 t00011", k=5)
    assert top not in [r["pid"] for r in after]
    assert api.cache_info().misses == 2

    version = s.version
    Indexer(cfg).index("srv2", docs, overwrite=True)
    s.refresh()
    assert s.version > version
    assert api("t00000 t00011", k=5)[0]["pid"] == top


def test_hop_search_expands_context(searcher):
    s, docs_pdf = searcher
    texts = dict(zip(docs_pdf["pid"], docs_pdf["text"]))
    one_hop = hop_search(s, "t00001 t00002", k=5, hops=1)
    two_hop = hop_search(s, "t00001 t00002", k=5, hops=2,
                         get_doc_text=lambda p: texts[p])
    assert one_hop[0], "hop-1 must retrieve something"
    assert two_hop[0], "hop-2 must retrieve something"


def test_collection_jsonl(spark, tmp_path):
    p = tmp_path / "c.jsonl"
    p.write_text('{"pid": 0, "text": "alpha beta"}\n{"pid": 1, "text": "gamma"}\n')
    df = load_collection_jsonl(spark, str(p))
    assert {(r["pid"], r["text"]) for r in df.collect()} == {
        (0, "alpha beta"), (1, "gamma")
    }
    p2 = tmp_path / "c2.jsonl"
    p2.write_text('{"passage": "no pid here"}\n{"passage": "another"}\n')
    df2 = load_collection_jsonl(spark, str(p2))
    assert sorted(r["pid"] for r in df2.collect()) == [0, 1]
