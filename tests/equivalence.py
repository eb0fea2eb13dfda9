"""Point search ≡ batch search, row for row.

`Searcher.search` answers one query on the driver with the MaxScore
kernel; `search_all` answers a batch through Spark with the scatter plan.
Both must return the same pids, ranks and exact scores for the same
query, allow-list and k.
"""

from __future__ import annotations

#: edge-case queries every index state is checked with
EDGE_QUERIES = [
    "zzabsent qqmissing",                   # out of vocabulary only
    "zzabsent t00004",                      # OOV mixed with a known term
    "",                                     # empty
    "!!! ... ???",                          # punctuation only
    "t00004 t00004 T00004 t00007 t00004",   # repeated terms, case-folded
    "Ünïcödé İt00005 café t00010",          # non-ASCII (İ lowers to i + U+0307)
    " ".join(f"t{i:05d}" for i in range(40, 80)),  # past query_maxlen
]


def _by_qid(rows) -> dict[int, tuple[list, list, list]]:
    out: dict[int, tuple[list, list, list]] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        pids, ranks, scores = out.setdefault(r["qid"], ([], [], []))
        pids.append(r["pid"])
        ranks.append(r["rank"])
        scores.append(r["score"])
    return out


def assert_point_equals_batch(spark, searcher, texts: list[str], k: int,
                              allow: dict[int, list[int]] | None = None,
                              ) -> dict[int, tuple[list, list, list]]:
    """search(texts[q], k, pids=allow.get(q)) must equal qid q's rows of
    search_all over the whole batch. allow: {qid: non-empty pid
    allow-list}. Returns the point results by qid."""
    qmap = dict(enumerate(texts))
    qid_to_pids = None
    if allow:
        qid_to_pids = spark.createDataFrame(
            [(q, int(p)) for q, ps in allow.items() for p in ps],
            "qid long, pid long")
    batch = _by_qid(searcher.search_all(qmap, k=k, qid_to_pids=qid_to_pids)
                    .df.collect())
    point = {}
    for q, text in qmap.items():
        point[q] = searcher.search(text, k=k,
                                   pids=(allow or {}).get(q))
        assert point[q] == batch.get(q, ([], [], [])), (k, text)
    return point


def assert_equivalent_views(spark, searcher, texts: list[str],
                            extra_allowed: list[int] = ()) -> None:
    """The full check of one index state: k below and above the number of
    hits, then allow-lists of every other hit plus `extra_allowed` pids
    (absent or removed ones, which must stay out) and a duplicate."""
    assert_point_equals_batch(spark, searcher, texts, k=5)
    deep = assert_point_equals_batch(spark, searcher, texts, k=10_000)
    assert sum(1 for pids, _, _ in deep.values() if len(pids) > 5) >= 3
    allow = {
        q: pids[1::2] + pids[1:2] + list(extra_allowed)
        for q, (pids, _, _) in deep.items() if len(pids) > 2
    }
    limited = assert_point_equals_batch(spark, searcher, texts, k=5,
                                        allow=allow)
    for q, (pids, _, _) in limited.items():
        if q in allow:
            assert pids and set(pids) <= set(allow[q]) - set(extra_allowed)
