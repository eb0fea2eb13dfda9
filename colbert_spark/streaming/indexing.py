"""Continuous index maintenance: Structured Streaming micro-batches
appended to a live index through IndexUpdater.add — the streaming driver
for the §2.9 incremental-maintenance surface (reference
colbert/index_updater.py:97-148 add + :176-273 persist, cycled by a
stream instead of explicit calls).

Each micro-batch appends postings segments under the index's FROZEN
corpus stats (N/avgdl/idf unchanged — the same approximation the
reference makes by not retraining centroids); a periodic
`builder.coalesce_index` folds the accumulated segments, exactly as in
batch maintenance.

Exactly-once across restarts: Spark's streaming checkpoint guarantees a
failed micro-batch is RE-DELIVERED with the same batch_id and the same
rows (replayable source), but IndexUpdater.add is deliberately not
idempotent (re-adding a live pid raises). The appender therefore keeps a
per-stream ledger in the index sidecar (stream_append.json):

  {"version": 2, "streams": {<stream_key>: {"hwm": N, "inflight": M}}}

- hwm (high-water mark): highest batch id fully applied. Batch ids are
  monotone per checkpoint, so one integer per stream replaces the v1
  append-only list — the ledger is O(#streams) forever, not O(#batches)
  (v1 ledgers are migrated on first read).
- inflight: written BEFORE IndexUpdater.add runs, cleared with the hwm
  bump after it. add() publishes its postings, term_dict and doc_stats in
  one metadata.json commit, so a crash inside it publishes nothing (its
  files are swept by the next commit). The window the marker covers is a
  crash between add's commit and the ledger update: the batch is live but
  not recorded. On re-delivery the marker identifies that batch, and the
  appender rolls it back by tombstoning its pids (IndexUpdater.remove)
  and re-applies. The rollback's bound lies past every committed epoch,
  so it excludes what the first attempt appended and hides its doc_stats
  rows from add's clash check; the retry appends in a fresh epoch. After
  a crash before the commit the rollback tombstones pids that are not in
  the index, which changes nothing. No silent double-append, no spurious
  "already live".

Concurrent streams against ONE index are unsupported: the ledger is a
read-modify-write JSON sidecar with no lock (two writers can lose each
other's stream entries). Run one appender per index; multiple sources
can be unioned upstream.

Pids must be unique across the stream's lifetime (dedup upstream with
stream_exact_dedup / dropDuplicatesWithinWatermark); a duplicate pid
fails the batch with the updater's "already live" error.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.sources.catalog import make_catalog

_LEDGER = "stream_append.json"


def _load_ledger(catalog) -> dict:
    """Read the ledger, migrating a v1 append-only list to per-stream
    high-water marks (v1 recorded every applied "key#id" entry; ids are
    monotone and applied sequentially per key, so max(id) per key is the
    exact same information)."""
    try:
        ledger = catalog.read_json(_LEDGER)
    except FileNotFoundError:
        return {"version": 2, "streams": {}}
    if "applied" in ledger:
        streams: dict[str, dict] = {}
        for entry in ledger["applied"]:
            key, _, bid = entry.rpartition("#")
            st = streams.setdefault(key, {"hwm": -1, "inflight": None})
            st["hwm"] = max(st["hwm"], int(bid))
        return {"version": 2, "streams": streams}
    return ledger


def _rollback_partial(cfg: ColBERTConfig, index: str, batch_df: DataFrame,
                      id_col: str) -> None:
    """Undo a batch whose add() may have committed before the crash by
    tombstoning its pids: the bound lies past the committed epochs, so
    the batch's postings (if its commit landed) are excluded and its
    doc_stats rows stop counting as live. After a crash before the
    commit there is nothing to undo, and the tombstones are harmless."""
    from colbert_spark.plans.index_updater import IndexUpdater

    pids = [
        r[0] for r in batch_df.select(F.col(id_col).cast("long")).distinct()
        .collect()
    ]
    IndexUpdater(index, batch_df.sparkSession, cfg).remove(pids)


def _apply_batch(cfg: ColBERTConfig, index: str, batch_df: DataFrame,
                 batch_id: int, id_col: str, text_col: str,
                 stream_key: str = "") -> bool:
    """Idempotently apply one micro-batch; returns True if it appended.
    Module-level so tests can drive re-delivery and crash recovery
    directly.

    Ledger streams are keyed by stream_key, NOT bare batch_id: Spark
    numbers every stream incarnation's batches from 0, so a second stream
    (new checkpoint, new source) against the same index would collide
    with the first stream's numbering. stream_index_append passes its
    checkpoint_dir as the key — one checkpoint == one batch-numbering
    domain."""
    from colbert_spark.plans.index_updater import IndexUpdater

    catalog = make_catalog(cfg)
    ledger = _load_ledger(catalog)
    st = ledger["streams"].setdefault(stream_key,
                                      {"hwm": -1, "inflight": None})
    if batch_id <= st["hwm"]:
        return False  # fully applied before a crash/restart — skip
    inflight = st.get("inflight")
    if inflight is not None and inflight != batch_id:
        raise RuntimeError(
            f"stream ledger corrupt for {stream_key!r}: batch {inflight} "
            f"is marked in-flight but batch {batch_id} was delivered — "
            "checkpointed batches replay in order, so this means a second "
            "appender shares this stream key (unsupported) or the ledger "
            "was edited"
        )
    if inflight is not None:
        # a prior attempt crashed inside add(): roll its partial state
        # back, then fall through and re-apply cleanly
        _rollback_partial(cfg, index, batch_df, id_col)
    st["inflight"] = int(batch_id)
    catalog.write_json(_LEDGER, ledger)
    if batch_df.take(1):
        IndexUpdater(index, batch_df.sparkSession, cfg).add(
            batch_df, id_col=id_col, text_col=text_col
        )
    st["hwm"] = int(batch_id)
    st["inflight"] = None
    catalog.write_json(_LEDGER, ledger)
    return True


def stream_index_append(
    stream_docs: DataFrame,
    index: str,
    config: ColBERTConfig,
    checkpoint_dir: str,
    id_col: str = "pid",
    text_col: str = "text",
    available_now: bool = True,
    auto_maintain: float | None = None,
):
    """Start the appender; returns the StreamingQuery.

    available_now=True drains the current source backlog and stops (the
    batch-backfill trigger); False runs continuously. The checkpoint_dir
    must be dedicated to this (index, source) pair — reusing it against a
    rebuilt index replays nothing (Spark considers the source consumed)
    while the rebuilt index has no ledger, so pair their lifetimes. The
    checkpoint_dir doubles as the ledger's stream key, so distinct
    streams (distinct checkpoints) never collide on batch numbering.

    auto_maintain: when set, each APPLIED batch is followed by
    IndexUpdater.maintain(f, f) — a metadata-only debt probe that
    coalesces the index once the appended-segment (or tombstone) fraction
    exceeds f. Compaction debt then stays bounded over an unbounded
    stream without an external scheduler; a compaction interrupted by a
    crash is re-run by the probe on a later batch (coalesce is
    idempotent on its inputs). None (default) leaves maintenance to the
    caller.
    """
    cfg = ColBERTConfig.from_existing(config)
    cfg.index_name = index

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        applied = _apply_batch(cfg, index, batch_df, batch_id, id_col,
                               text_col, stream_key=checkpoint_dir)
        if applied and auto_maintain is not None:
            from colbert_spark.plans.index_updater import IndexUpdater

            IndexUpdater(index, batch_df.sparkSession, cfg).maintain(
                max_appended_fraction=auto_maintain,
                max_tombstone_fraction=auto_maintain,
            )

    writer = (
        stream_docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
