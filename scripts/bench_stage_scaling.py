"""Isolated postings-stage scaling (the distributed-compute term of the
index build): tokenize → broadcast dict join → ONE (term_id, salt)
repartition → salted numpy block kernels, materialized with a count-only
action (noop write) so the measurement excludes the final parquet write
and all driver-side finalize work.

This is the stage a real cluster parallelizes with N executors; BENCH.md
cites its N→4N ratio alongside the full-job number. Fresh JVM per run
(subprocess), same deterministic corpus, best-of-N.

Usage: python scripts/bench_stage_scaling.py [n_docs] [N] [multiplier] [reps]
Writes BENCH_stage_scaling_last.json.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

RUN_TEMPLATE = """
import json, sys, time
sys.path.insert(0, {repo!r})
from colbert_spark.session import get_spark
from colbert_spark.sources.datagen import generate_documents
from colbert_spark.plans.config import ColBERTConfig
from colbert_spark.operators import builder
import pyspark.sql.functions as F

cpus = {cpus}
n_docs = {n_docs}
spark = get_spark(app_name=f"stage-scaling-{{cpus}}", cpus=cpus,
                  shuffle_partitions=max(cpus, 8))
spark.sparkContext.setLogLevel("ERROR")

path = f"/tmp/scaling_corpus_{{n_docs}}"
import os
if not os.path.exists(path + "/_SUCCESS"):
    generate_documents(spark, n_docs, partitions=64).write.mode("overwrite").parquet(path)
corpus = spark.read.parquet(path).select(
    F.pmod(F.xxhash64("url"), F.lit(1 << 62)).alias("pid"), "text")

cfg = ColBERTConfig()
# train once OUTSIDE the timed window (stats + dict are the driver-side
# serial term measured separately by bench_scaling.py)
token_df = builder.tokenize(corpus, cfg)
agg = builder.term_agg(token_df).persist()
row = agg.agg(F.count(F.lit(1))).collect()
num_docs = corpus.count()
avgdl = corpus.select(F.avg(F.size(F.split("text", " ")))).collect()[0][0]
term_dict = builder.term_dict_from_agg(agg, num_docs)

t0 = time.monotonic()
blocks = builder.build_postings(token_df, term_dict, float(avgdl), cfg)
n_blocks = blocks.count()   # materializes the full stage, no write
dt = time.monotonic() - t0
print(json.dumps({{"cpus": cpus, "n_docs": n_docs, "sec": round(dt, 2),
                   "n_blocks": n_blocks,
                   "docs_per_sec": round(n_docs / dt, 1)}}))
"""


def run_once(cpus: int, n_docs: int) -> dict:
    import os

    code = RUN_TEMPLATE.format(repo=str(REPO), cpus=cpus, n_docs=n_docs)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="32g")
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=3600, env=env,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        print(out.stdout[-2000:], out.stderr[-4000:], file=sys.stderr)
        raise RuntimeError(f"stage run cpus={cpus} produced no JSON")
    return json.loads(lines[-1])


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    mult = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    lo_runs = [run_once(n, n_docs) for _ in range(reps)]
    hi_runs = [run_once(n * mult, n_docs) for _ in range(reps)]
    lo = min(lo_runs, key=lambda r: r["sec"])
    hi = min(hi_runs, key=lambda r: r["sec"])
    lo["all_secs"] = [r["sec"] for r in lo_runs]
    hi["all_secs"] = [r["sec"] for r in hi_runs]
    eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / mult
    result = {
        "stage": "postings_build_no_write",
        "n_docs": n_docs,
        "low": lo,
        "high": hi,
        "multiplier": mult,
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(result))
    (REPO / "BENCH_stage_scaling_last.json").write_text(
        json.dumps(result, indent=2)
    )


if __name__ == "__main__":
    main()
