"""Serving benchmark for the itemsjs_spark engine, checked against the oracle.

    python3 perfbench/run.py --workload serve_mem --seed 1 --seconds 5 --trace 0

Run it from the repository root. One client drives the engine's public API
(``search()``, ``aggregation()``, ``similar()``) in a closed loop: it sends
the next request only when the previous response has arrived. The corpus,
the request mix and the anchors all derive from ``--seed``.

Workloads:

* ``serve_mem``: the engine built in memory from the stored transcripts
  table (``itemsjs_spark`` + ``materialize``).
* ``serve_disk``: the query-bearing requests of the same mix against the
  compressed posting-block store written by ``Index.write_blocks`` and
  reopened with ``Index.read``; nothing is pinned, so each query decodes its
  terms' blocks.

Each run first writes its stored input under ``perfbench/.work``: the
transcripts table, or for ``serve_disk`` the block store. It then sets the
engine up ``SETUPS`` times and times whole passes of the mix until
``--seconds`` have gone by; ``--seconds`` is set below the length of one
pass, so a run times one pass. Every request is then its shape's first call
on that engine, after the set-ups have warmed the JVM: a run that must end
in about a minute on a 4-core box has no time for a warm-up pass, and every
run does the same work before it times anything, so runs compare. After
the timed region every response is compared with ``ItemsJSOracle``'s.
``--trace 1`` instead replays the layer calls each endpoint composes inside
spans (see ``layers.py``) and reports per-layer figures.

Human-readable lines go first; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only if every response was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from typing import Any, Dict, List

import corpus
import layers
import mix
from harness import (
    FIRST_REQUEST,
    ROOT,
    WORK,
    Phases,
    Row,
    config,
    expected,
    job_counter_self_check,
    note,
    open_engine,
    problems,
    run_pass,
    write_store,
)
from sparkstats import JobCounter, storage_mb

N_TURNS = 1000
SETUPS = 3
WORKLOADS = ("serve_mem", "serve_disk")
# the end-to-end metrics in the result line of an untraced run: the figures
# every workload has and that repeat from run to run. Latencies are printed
# but left out: on a shared 4-core box, other tenants move them by 20-40%
# between runs a few minutes apart
END_TO_END = ("setup_s", "jobs_per_req", "cache_mb")


def parse_args(argv: List[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def machine() -> Dict[str, Any]:
    nproc = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return {"nproc": nproc, "ram_gb": round(ram / 2**30, 1), "ram_bytes": ram}


def make_session(box: Dict[str, Any], run_dir: str):
    """``local[nproc]`` with the driver sized from the RAM present (a quarter,
    at most 4 GB: the corpus is small and the box is shared), UI off, and
    every scratch directory inside ``run_dir``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    driver_mb = max(1024, min(box["ram_bytes"] // 4, 4 << 30) >> 20)
    box["driver_memory_mb"] = driver_mb
    n = box["nproc"]
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("itemsjs-spark-perfbench")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a stuck JVM must not outlive the run
            proc.kill()
            proc.wait(timeout=30)


def write_inputs(spark, args, run_dir: str):
    """This run's stored input under ``run_dir``: the transcripts table, or
    for an untraced ``serve_disk`` run the block store built straight from
    the generated rows. Returns (transcripts DataFrame, stored path)."""
    rows = corpus.corpus_df(spark, args.seed, N_TURNS)
    if args.workload == "serve_disk" and not args.trace:
        store = os.path.join(run_dir, "store")
        write_store(spark, rows, store)
        return rows, store
    table = os.path.join(run_dir, "table")
    corpus.write_table(rows, table)
    return spark.read.parquet(table), table


def release(eng) -> None:
    eng.release_expansion_caches()
    eng.index.unpersist()


def load_oracle(rows, stored: str):
    from itemsjs_spark.oracle.itemsjs_oracle import ItemsJSOracle

    items = [
        {k: v for k, v in r.asDict().items() if v is not None}
        for r in rows.orderBy(*corpus.ORDER_BY).collect()
    ]
    oracle = ItemsJSOracle(items, config())
    return oracle, items, corpus.profile(items, len(oracle.fulltext.postings), stored)


def timed_passes(eng, reqs, seconds: float, counter) -> List[Dict[str, Any]]:
    """Whole passes of the mix until ``seconds`` have passed."""
    samples = []
    start = time.perf_counter()
    while True:
        samples += run_pass(eng, reqs, counter)
        if time.perf_counter() - start >= seconds:
            return samples


def p50_row(name: str, seconds: List[float]) -> Row:
    return Row(name, statistics.median(seconds) * 1e3, "ms", len(seconds))


def p90_row(name: str, seconds: List[float]) -> Row:
    """p90, saying how many samples lie beyond it."""
    xs = sorted(seconds)
    k = min(len(xs) - 1, int(0.9 * len(xs)))
    beyond = len(xs) - 1 - k
    remark = f"{beyond} samples beyond it" + ("; fewer than 10, so read it as indicative" if beyond < 10 else "")
    return Row(name, xs[k] * 1e3, "ms", len(xs), remark)


def serve(spark, args, box, run_dir: str) -> Dict[str, Any]:
    disk = args.workload == "serve_disk"
    phase = Phases()
    rows, stored = write_inputs(spark, args, run_dir)
    phase("inputs")
    oracle, items, profile = load_oracle(rows, stored)
    phase("oracle")
    box.update(profile)
    reqs = mix.build_mix(args.seed, items)
    if disk:  # text_disk: the query-bearing shapes only
        reqs = [r for r in reqs if r.has_query]

    if args.trace:
        return layers.traced_run(spark, args, box, stored, disk, oracle, reqs, run_dir)

    setup_s, eng = [], None
    for _ in range(SETUPS):
        if eng is not None:
            release(eng)
        t0 = time.perf_counter()
        eng = open_engine(spark, stored, disk)
        eng.search(dict(FIRST_REQUEST))
        setup_s.append(time.perf_counter() - t0)
    phase("setups")
    counter = JobCounter(spark)
    samples = timed_passes(eng, reqs, args.seconds, counter)
    phase("timed passes")
    if len(samples) > len(reqs):
        # later passes repeat shapes already seen, so they read lower
        note(f"timed {len(samples) // len(reqs)} passes, not one: figures are not comparable "
             "with runs that timed a single pass")
    wrong = problems(samples, reqs, expected(oracle, reqs))
    phase("oracle check")
    self_check = job_counter_self_check(eng, counter)

    for i, req in enumerate(reqs):
        mine = [s for s in samples if s["i"] == i]
        note(f"shape {req.shape:<20} " + " ".join(f"{s['out'].seconds * 1e3:7.1f}" for s in mine)
             + f" ms, {mine[0]['jobs']} jobs")
    lat: Dict[str, List[float]] = {}
    for s in samples:
        lat.setdefault(reqs[s["i"]].endpoint, []).append(s["out"].seconds)
    every = [s["out"].seconds for s in samples]
    rows = [
        Row("setup_s", statistics.median(setup_s), "s", len(setup_s),
            "median of " + ", ".join(f"{x:.3f}" for x in setup_s)),
        p50_row("req_p50_ms", every),
        p90_row("req_p90_ms", every),
        p50_row("search_p50_ms", lat["search"]),
        *[p50_row(f"{e}_p50_ms", lat[e]) for e in ("aggregation", "similar") if e in lat],
        Row("jobs_per_req", sum(s["jobs"] for s in samples) / len(samples), "jobs", len(samples),
            "all job groups, read from Spark's status store"),
        Row("append_visible_p50_ms", None, "ms", remark="not measured: this benchmark has no ingest workload"),
        Row("cache_mb", storage_mb(spark), "MB", remark="Spark storage memory held at the end of the run"),
        Row("error_rate", len(wrong) / len(samples), "ratio", len(samples),
            "requests that raised or differ from the oracle"),
    ]
    return {
        "rows": rows,
        "result": END_TO_END,
        "attempted": len(samples),
        "failed": len(wrong),
        "problems": wrong,
        "facet_only_jobs": self_check,
    }


def report(args, box, res) -> bool:
    """Print the run's environment, checks and figures; True if all correct."""
    note(
        f"workload={args.workload} seed={args.seed} trace={args.trace} "
        f"nproc={box['nproc']} ram_gb={box['ram_gb']} driver_memory_mb={box['driver_memory_mb']} "
        f"spark={box['spark']} python={platform.python_version()} java={box['java']}"
    )
    note("corpus " + " ".join(
        f"{k}={v}" for k, v in box.items() if k in ("rows", "distinct_terms", "stored_bytes") or k.startswith("distinct_")
    ))
    note("figures from this harness are not comparable with BENCH_r01-r05 "
         "(32 CPUs, sums of single-query timings)")
    jobs = res["facet_only_jobs"]
    counter_ok = bool(jobs and jobs >= 1)
    note(f"job counter self-check: a facet-only search() counted {jobs} jobs ({'pass' if counter_ok else 'FAIL'})")
    for shape, why in res["problems"][:20]:
        note(f"INCORRECT {shape}: {why}")
    for row in res["rows"]:
        note(row.line())
    return counter_ok and res["failed"] == 0


def main(argv: List[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import itemsjs_spark  # noqa: F401 - the program under test
        import pyspark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    # every file Spark and Python write goes under run_dir, removed at exit
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    # SIGTERM unwinds like an error, so Spark and its JVM still get stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    box = machine()
    spark = None
    try:
        spark = make_session(box, run_dir)
        box["spark"] = pyspark.__version__
        box["java"] = spark.sparkContext._jvm.System.getProperty("java.version")
        res = serve(spark, args, box, run_dir)
    except Exception:  # noqa: BLE001 - report, stop Spark, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    ok = report(args, box, res)
    rows = {r.name: r for r in res["rows"]}
    print(json.dumps({
        "correct": ok,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": rows[k].value, "unit": rows[k].unit} for k in res["result"]},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
