"""Text analysis: deterministic tokenization + HTML text extraction.

Reference parity:
- doc tokenization: colbert/modeling/tokenization/doc_tokenization.py:48-62
  (WordPiece there; deterministic lowercase word tokenization here — the
  engine is lexical, so the tokenizer is the analysis chain, not a model).
- punctuation skiplist: colbert/modeling/colbert.py:27-29 — here punctuation
  simply never survives the split regex.
- byte-identical extraction per url (BASELINE.json input_hint): extract_text
  is a pure function of the html bytes — no locale, hash-seed, or ordering
  dependence.

The SAME token rule must hold in three places: Spark (JVM regex), the DuckDB
oracle SQL, and python_tokenize (the test oracles and Searcher.search's
query path). All three use:
    lower(text) split on '[^a-z0-9]+', drop empty strings.
Keep TOKEN_SPLIT_RE in sync with oracle_sql() in __spark_entry__.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# One regex, three engines (Java, DuckDB RE2, Python re). Intersection of
# their semantics: character-class split, no lookaround, no unicode classes.
TOKEN_SPLIT_RE = "[^a-z0-9]+"

#: Default truncation: reference doc_maxlen (settings.py:113) = 220 tokens.
DOC_MAXLEN = 220
#: Reference query_maxlen (settings.py:119) = 32 tokens.
QUERY_MAXLEN = 32


def tokens(col: Column | str, maxlen: int | None = None) -> Column:
    """Tokenize a text column → array<string>, entirely JVM-side.

    lower → regex split → drop empties → optional truncation to maxlen
    (the reference truncates docs to doc_maxlen-1 content tokens,
    doc_tokenization.py:51; we keep plain maxlen and document it).
    """
    c = F.col(col) if isinstance(col, str) else col
    arr = F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != F.lit(""))
    if maxlen is not None:
        arr = F.slice(arr, 1, maxlen)
    return arr


def doclen(col: Column | str, maxlen: int | None = None) -> Column:
    """Token count of a text column (BM25 |d|)."""
    return F.size(tokens(col, maxlen))


def tokenize_docs(
    docs: DataFrame,
    id_col: str = "pid",
    text_col: str = "text",
    maxlen: int | None = None,
) -> DataFrame:
    """docs(id, text) → (id, term, tf, doclen): the term-frequency multiset.

    This is the lexical analog of the reference's per-passage embedding
    matrix (colbert/modeling/colbert.py:95-115): one row per distinct term
    per document instead of one vector per token.

    r6: delegates to the shuffle-free Arrow kernel (tokenize_docs_arrow)
    — same rows (equivalence-pytested incl. unicode), one less
    corpus-sized exchange than the relational explode + groupBy
    formulation, which every query-path operator previously paid per
    call. The relational form stays as tokenize_docs_relational (the
    pure-Catalyst reference the kernel is tested against).
    """
    return tokenize_docs_arrow(docs, id_col=id_col, text_col=text_col,
                               maxlen=maxlen)


def tokenize_docs_relational(
    docs: DataFrame,
    id_col: str = "pid",
    text_col: str = "text",
    maxlen: int | None = None,
) -> DataFrame:
    """Pure-Catalyst (id, term, tf, doclen) — explode + groupBy(pid, term)
    with map-side combine, ONE exchange of one row per distinct
    (doc, term). Kept as the equivalence oracle for the Arrow kernel and
    for plans that must stay pure Catalyst expressions.

    Implementation note: a shuffle-free in-row formulation was tried and
    measured SLOWER: Catalyst's project-collapse inlines intermediate
    array expressions into every lambda element access, turning
    O(L log L) per row into O(L² log L) (see git history).
    """
    toks = docs.select(
        F.col(id_col),
        tokens(text_col, maxlen).alias("_terms"),
    ).withColumn("doclen", F.size("_terms"))
    return (
        toks.select(id_col, "doclen", F.explode("_terms").alias("term"))
        .groupBy(id_col, "term", "doclen")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _tokenize_batch_re(texts, maxlen: int | None):
    """(doclens, doc_idx, flat terms object array) via Python re — the
    reference kernel the vectorized path is equivalence-tested against."""
    import re

    import numpy as np

    pattern = re.compile(TOKEN_SPLIT_RE)
    toks_per_doc = [
        [t for t in pattern.split(s.lower()) if t][:maxlen]
        if isinstance(s, str) else []
        for s in texts
    ]
    doclens = np.fromiter((len(t) for t in toks_per_doc), dtype=np.int64,
                          count=len(toks_per_doc))
    doc_idx = np.repeat(np.arange(len(toks_per_doc)), doclens)
    flat = np.array([t for toks in toks_per_doc for t in toks], dtype=object)
    return doclens, doc_idx, flat


def _tokenize_batch_pyarrow(texts, maxlen: int | None):
    """Same output as _tokenize_batch_re, computed C-side for ASCII rows:
    Arrow RE2 regex split + lowercase, numpy for per-doc truncation
    (~4× the Python kernel on ASCII web text). Non-ASCII rows take the
    Python kernel — full vs simple Unicode lowercasing diverges on a few
    codepoints (e.g. U+0130 İ), and the tokenizer invariant is str.lower
    ≡ JVM lower; ASCII is unambiguous everywhere. Equivalence-pytested
    (incl. the İ case)."""
    import numpy as np

    non_ascii = [i for i, t in enumerate(texts)
                 if isinstance(t, str) and not t.isascii()]
    if non_ascii:
        na_set = set(non_ascii)
        idx_a = np.array([i for i in range(len(texts)) if i not in na_set],
                         dtype=np.int64)
        idx_r = np.array(non_ascii, dtype=np.int64)
        dl_a, di_a, f_a = _tokenize_batch_pyarrow(
            [texts[i] for i in idx_a], maxlen)
        dl_r, di_r, f_r = _tokenize_batch_re(
            [texts[i] for i in idx_r], maxlen)
        doclens = np.zeros(len(texts), dtype=np.int64)
        doclens[idx_a] = dl_a
        doclens[idx_r] = dl_r
        doc_idx = np.concatenate([idx_a[di_a], idx_r[di_r]])
        flat = np.concatenate([f_a, f_r]) if (f_a.size or f_r.size) else f_a
        return doclens, doc_idx, flat

    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(texts, type=pa.string())
    splits = pc.split_pattern_regex(pc.utf8_lower(arr), TOKEN_SPLIT_RE)
    flat_a = pc.list_flatten(splits)
    parents = pc.list_parent_indices(splits).to_numpy(zero_copy_only=False)
    keep = pc.not_equal(flat_a, "").to_numpy(zero_copy_only=False)
    # docs with NO list entry (null text) never appear in parents; empty
    # strings are dropped by the mask
    parents = parents[keep]
    flat_a = flat_a.filter(pa.array(keep))
    if maxlen is not None and parents.size:
        # per-doc running position (parents is nondecreasing)
        change = np.flatnonzero(np.diff(parents)) + 1
        starts = np.zeros(parents.size, dtype=np.int64)
        starts[change] = change
        np.maximum.accumulate(starts, out=starts)
        pos = np.arange(parents.size, dtype=np.int64) - starts
        trunc = pos < maxlen
        parents = parents[trunc]
        flat_a = flat_a.filter(pa.array(trunc))
    n_docs = len(texts)
    doclens = np.bincount(parents, minlength=n_docs).astype(np.int64)
    flat = np.asarray(flat_a.to_pandas(), dtype=object)
    return doclens, parents, flat


def tokenize_docs_arrow(
    docs: DataFrame,
    id_col: str = "pid",
    text_col: str = "text",
    maxlen: int | None = None,
    impl: str = "pyarrow",
) -> DataFrame:
    """Shuffle-free (id, term, tf, doclen) via Arrow mapInPandas.

    Same output as tokenize_docs, different physical plan: a doc's tokens
    are row-local, so per-doc tf needs NO exchange — the kernel tokenizes a
    batch (Arrow RE2 split ≡ Python re ≡ the JVM/DuckDB rule,
    golden + equivalence tested) and counts (doc, term) pairs with one
    dictionary-encode + numpy unique. This removes the token-level
    shuffle entirely; the index build's only remaining corpus-sized
    exchange is the repartition-by-(term, salt) that builds postings.
    Preferred for builds; the relational tokenize_docs stays for plans
    that must be pure Catalyst expressions.
    """
    from collections.abc import Iterator as _It

    batch_fn = (_tokenize_batch_pyarrow if impl == "pyarrow"
                else _tokenize_batch_re)

    def run(batches: "_It[pd.DataFrame]") -> "_It[pd.DataFrame]":
        import numpy as np
        import pyarrow as pa

        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            doclens, doc_idx, flat = batch_fn(list(pdf[text_col]), maxlen)
            if flat.size == 0:
                continue
            # (doc, term) counting: dictionary-encode terms C-side, then
            # one numpy unique over a combined int64 key
            enc = pa.array(flat, type=pa.string()).dictionary_encode()
            codes = np.asarray(enc.indices.to_numpy(zero_copy_only=False),
                               dtype=np.int64)
            vocab = np.asarray(enc.dictionary.to_pandas(), dtype=object)
            key = doc_idx.astype(np.int64) * len(vocab) + codes
            ukey, tf = np.unique(key, return_counts=True)
            out_doc = ukey // len(vocab)
            out_code = ukey % len(vocab)
            yield pd.DataFrame(
                {
                    id_col: ids[out_doc],
                    "doclen": doclens[out_doc],
                    "term": vocab[out_code],
                    "tf": tf.astype("int64"),
                }
            )

    # preserve the id column's type (pids are longs, but anchor/url
    # tokenization passes string ids)
    id_type = docs.schema[id_col].dataType.simpleString()
    return docs.select(id_col, text_col).mapInPandas(
        run, schema=f"{id_col} {id_type}, doclen int, term string, tf long"
    )


def python_tokenize(text: str, maxlen: int | None = None) -> list[str]:
    """Pure-Python mirror of tokens(). Searcher.search tokenizes queries
    with it on the driver (search_all uses tokens()), so the two must agree
    token for token — the same rule as the test oracles rely on."""
    import re

    out = [t for t in re.split(TOKEN_SPLIT_RE, text.lower()) if t]
    return out[:maxlen] if maxlen is not None else out


# --- HTML text extraction (input_hint invariant) -------------------------

def extract_text_from_html(html: bytes) -> str:
    """Extract visible text from html bytes; PURE function of the bytes.

    Deliberately simple and deterministic (no external parser): strip
    <script>/<style> blocks, drop tags, decode a fixed entity set, collapse
    whitespace. Byte-identical output per identical input is the contract
    (BASELINE.json input_hint), not HTML5 fidelity.
    """
    import re

    s = html.decode("utf-8", errors="replace")
    s = re.sub(r"(?is)<(script|style)\b.*?</\1\s*>", " ", s)
    s = re.sub(r"(?s)<!--.*?-->", " ", s)
    s = re.sub(r"(?s)<[^>]*>", " ", s)
    for ent, ch in (
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&#39;", "'"), ("&nbsp;", " "),
    ):
        s = s.replace(ent, ch)
    return " ".join(s.split())


def with_extracted_text(
    docs: DataFrame, html_col: str = "html", out_col: str = "text"
) -> DataFrame:
    """Add/replace a text column extracted from an html binary column.

    Arrow-vectorized mapInPandas (no per-row Python UDF dispatch); schema
    is preserved plus/replacing out_col.
    """
    fields = [f for f in docs.schema.fields if f.name != out_col]
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in fields)
    out_schema += f", {out_col} string"
    names = [f.name for f in fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            res = pdf[names].copy()
            res[out_col] = pdf[html_col].map(
                lambda b: extract_text_from_html(bytes(b))
            )
            yield res

    return docs.mapInPandas(run, schema=out_schema)
