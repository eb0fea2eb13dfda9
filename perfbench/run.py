"""Retrieval benchmark for colbert_spark.

    python3 perfbench/run.py --workload {search,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates its inputs from --seed, builds
the index with the engine in this checkout, runs the workload on
local[nproc], checks every ranking against a numpy BM25 oracle, and
prints one JSON object as its last stdout line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics; --trace 1 turns on job groups and the Spark event
log and reports the per-layer metrics instead (its spans are written to
perfbench/.work/traces/). All scratch files stay under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DEADLINE_S = 170

#: name → unit; --trace 1 prints exactly these
PER_LAYER = {
    "session.start_s": "s",
    "plans.searcher.open_s": "s",
    "plans.searcher.search.jobs": "count",
    "plans.searcher.search.tasks": "count",
    "plans.searcher.search.driver_s": "s",
    "plans.searcher.search.task_wait_s": "s",
    "plans.searcher.search.executor_run_s": "s",
    "plans.searcher.search.executor_cpu_s": "s",
    "plans.searcher.search.input_bytes": "bytes",
    "plans.searcher.search_all.wall_s": "s",
    "plans.searcher.search_all.jobs": "count",
    "plans.searcher.search_all.executor_run_s": "s",
    "plans.searcher.search_all.core_busy_frac": "ratio",
    "plans.searcher.search_all.shuffle_write_bytes": "bytes",
    "plans.searcher.search_all.spill_bytes": "bytes",
    "plans.searcher.persisted_rdds": "count",
    "operators.wand.score_query_blocks_s": "s",
    "operators.wand.candidate_blocks": "count",
    "operators.wand.scored_pairs": "count",
    "functions.codec.decode_postings_per_s": "1/s",
    "functions.codec.bytes_per_posting": "bytes",
    "plans.indexer.index.wall_s": "s",
    "plans.indexer.index.jobs": "count",
    "plans.indexer.index.executor_run_s": "s",
    "plans.indexer.index.core_busy_frac": "ratio",
    "plans.indexer.index.shuffle_write_bytes": "bytes",
    "plans.indexer.index.spill_bytes": "bytes",
    "operators.builder.tokenize_s": "s",
    "operators.builder.term_agg_s": "s",
    "operators.builder.build_postings_s": "s",
    "plans.index_updater.remove.wall_s": "s",
    "plans.index_updater.remove.jobs": "count",
    "plans.index_updater.add.wall_s": "s",
    "plans.index_updater.add.jobs": "count",
    "plans.index_updater.add.files_written": "count",
    "plans.index_updater.appended_fraction": "ratio",
    "plans.index_updater.tombstones": "count",
    "sources.catalog.postings_files": "count",
    "server.cache_hit_ratio": "ratio",
    "spark.failed_tasks": "count",
    # end-to-end figures of the traced run; minus the untraced run's they
    # give the tracing overhead
    "tracing.setup_s": "s",
    "tracing.search_p50_s": "s",
    "tracing.batch_qps": "1/s",
    "tracing.update_p50_s": "s",
}


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def environment(cores: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    mem_kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
    return {"nproc": cores, "mem_gb": round(mem_kb / 2**20, 1),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__}


def start_spark(work: Path, cores: int, traced: bool):
    from colbert_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        # no hsperfdata files in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if traced:
        (work / "events").mkdir()
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = (work / "events").as_uri()
        conf["spark.eventLog.compression.codec"] = "zstd"
    spark = get_spark(app_name="perfbench", cpus=cores,
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    from pyspark import SparkContext

    import spans

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    for _ in range(100):
        if not spans.descendants(os.getpid()):
            return
        time.sleep(0.1)
    raise RuntimeError("child processes outlived the Spark session")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "colbert_spark" / "__init__.py").is_file():
        print(f"perfbench: no colbert_spark package next to {HERE}; run from "
              "a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    import layers
    import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2

    work = HERE / ".work" / "run"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("local", "tmp"):
        (work / d).mkdir(parents=True)
    # every scratch byte of the JVM, the workers and this process stays here
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        # the session factory defaults to 16g; two leave room for the
        # Python workers and other tenants on a 15 GB machine
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })

    import spans

    cores = len(os.sched_getaffinity(0))
    env = environment(cores)
    print(f"[perfbench] env {json.dumps(env)}", flush=True)
    traced = bool(args.trace)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    tracer = spans.Tracer(traced)
    spark = None
    try:
        run = wl.Run(tracer, work, args.seed, args.seconds, cores)
        with spans.MemorySampler() as mem, ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(run.make_inputs)
            t = time.perf_counter()
            spark = start_spark(work, cores, traced)
            session_s = time.perf_counter() - t
            tracer.sc = spark.sparkContext
            inputs.result()
            print(f"[perfbench] {time.perf_counter() - t:7.2f} s  session and "
                  "inputs", file=sys.stderr, flush=True)
            run.attach(spark)
            wl.WORKLOADS[args.workload](run)
            if traced:
                layer = dict(run.layer, **layers.probe_index(run))
            stop_spark(spark)
            spark = None
        e2e = wl.end_to_end(run, mem.peak_kb / 1024.0)
        if traced:
            layer["session.start_s"] = session_s
            layer.update(layers.from_spans(
                run, spans.job_stats(spans.read_event_log(work / "events"))))
            for name in ("setup_s", "search_p50_s", "batch_qps",
                         "update_p50_s"):
                layer[f"tracing.{name}"] = e2e[name][0]
            metrics = {n: (float(layer[n]), u, "")
                       for n, u in PER_LAYER.items()}
            out = HERE / ".work" / "traces"
            out.mkdir(parents=True, exist_ok=True)
            tracer.dump(out / f"{args.workload}-{args.seed}.json")
        else:
            metrics = e2e
    except Deadline as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                stop_spark(spark)
            except Exception as exc:  # best effort on the failure path
                print(f"perfbench: stopping Spark failed: {exc}",
                      file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)

    for name, (value, unit, how) in metrics.items():
        print(f"[perfbench] {args.workload} {name} = {value:.6g} {unit}"
              + (f" ({how})" if how else ""))
    if not traced:
        print(f"[perfbench] {args.workload} build_docs_per_s = "
              f"{wl.build_docs_per_s(run):.6g} 1/s (informational)")
    print(f"[perfbench] {args.workload} failed_frac = "
          f"{run.failed / run.attempted:.6g} "
          f"({run.failed} of {run.attempted} operations)")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": v, "unit": u}
                    for n, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
