"""Engine configuration with right-most-wins composition.

Mirrors the reference's ColBERTConfig semantics
(colbert/infra/config/base_config.py:19-33: from_existing merges
checkpoint < index < run, right-most non-default wins) without the
checkpoint machinery. Defaults mirror settings.py where a lexical analog
exists (doc_maxlen=220 @ settings.py:113, query_maxlen=32 @ :119).
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass, fields
from pathlib import Path


@dataclass
class ColBERTConfig:
    # analysis
    doc_maxlen: int = 220
    query_maxlen: int = 32
    # BM25
    k1: float = 1.2
    b: float = 0.75
    # index layout
    block_size: int = 128          # postings per block (bounds UDF memory)
    index_partitions: int = 32     # bucket count of the on-disk layout
    # skew control: a term with df > max_group_postings is built as
    # ceil(df / max_group_postings) parallel salted sub-groups, so group
    # size — and therefore task memory and stragglers — is bounded by this
    # constant at ANY corpus size (a 10^12-doc head term just gets more
    # salts). ~24 bytes/posting ⇒ default ≈ 25 MB per kernel invocation.
    max_group_postings: int = 1 << 20
    # paths
    index_root: str = "/tmp/colbert_spark_indexes"
    index_name: str = "default"
    # storage backend: empty = parquet layout under index_root; set to the
    # name of a configured Iceberg Spark catalog (spark.sql.catalog.<name>)
    # to store index tables as Iceberg tables (sources.catalog.make_catalog)
    iceberg_catalog: str = ""

    def index_path(self) -> str:
        return str(Path(self.index_root) / self.index_name)

    @classmethod
    def from_existing(cls, *sources: "ColBERTConfig | None") -> "ColBERTConfig":
        """Right-most non-default value wins (base_config.py:19-33)."""
        defaults = cls()
        merged = cls()
        for src in sources:
            if src is None:
                continue
            for f in fields(cls):
                v = getattr(src, f.name)
                if v != getattr(defaults, f.name):
                    setattr(merged, f.name, v)
        return merged

    def save(self, path: str) -> None:
        Path(path).parent.mkdir(parents=True, exist_ok=True)
        Path(path).write_text(json.dumps(dataclasses.asdict(self), indent=2, sort_keys=True))

    @classmethod
    def load(cls, path: str) -> "ColBERTConfig":
        d = json.loads(Path(path).read_text())
        known = {f.name for f in fields(cls)}
        return cls(**{k: v for k, v in d.items() if k in known})
