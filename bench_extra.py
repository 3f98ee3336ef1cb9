"""Supplemental measurement harness for the optimization round
(bench.py is FROZEN — this file carries the extra instrumentation the
optimization guide §1 asks for: noop-sink isolation per query,
.explain("formatted") capture, and per-stage crawl-wave attribution).

Usage:
  python bench_extra.py plans  [out_dir]   # capture explain() per query
  python bench_extra.py time   [q1,q2,..]  # noop-sink timings per query
  python bench_extra.py wave               # crawl-wave stage attribution

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0),
SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_URLS.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def _spark():
    from bench import apply_tmpfs_defaults

    apply_tmpfs_defaults(clean_bench_dir=False)
    from swspark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("swspark-bench-extra", cores=cpus,
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


BENCH_QUERIES = [
    "schedule_wave", "seen_anti_join", "host_agg", "events_daily",
    "exact_dedup", "token_stats", "quality_score", "lang_id",
    "fingerprint", "ann_topk", "minhash_lsh", "embedding_neardup",
]


def capture_plans(out_dir: str, suffix: str, names=None) -> None:
    import __spark_entry__ as entry

    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    os.makedirs(out_dir, exist_ok=True)
    qs = entry.queries()
    for name in names or BENCH_QUERIES:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"wrote {name}_{suffix}.txt")


def time_queries(names=None, reps: int = 3) -> None:
    import json

    import __spark_entry__ as entry

    spark = _spark()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    qs = entry.queries()
    out = {}
    for name in names or BENCH_QUERIES:
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            spark.sparkContext.setJobDescription(f"noop:{name}")
            noop(qs[name](spark, sf_dir))
            samples.append(round(time.perf_counter() - t0, 3))
        out[name] = samples
        print(name, samples, flush=True)
    print(json.dumps(out))


def wave_stages() -> None:
    import json

    from bench import (
        prepare_crawl_wave,
        run_crawl_wave,
        run_crawl_wave_stages,
    )

    spark = _spark()
    n_urls = int(os.environ.get("SPARK_GRAFT_BENCH_URLS", "5000000"))
    inputs = prepare_crawl_wave(spark, n_urls)
    run_crawl_wave(spark, inputs)  # full-size warmup (bench protocol)
    dts = []
    for _ in range(3):
        dt, n = run_crawl_wave(spark, inputs)
        dts.append(round(dt, 3))
    stages = run_crawl_wave_stages(spark, inputs)
    print(json.dumps({"wave_s": dts, "n": n, "stages": stages}))


def wave_plan(out_path: str) -> None:
    """Capture the full crawl-wave plan (the fetched join, pre-count)."""
    from bench import prepare_crawl_wave
    from swspark.scheduler import Throttle, salted_repartition, schedule_wave
    from swspark.seen import filter_new_urls, with_url_identity

    spark = _spark()
    n_urls = int(os.environ.get("SPARK_GRAFT_BENCH_URLS", "5000000"))
    inputs = prepare_crawl_wave(spark, n_urls)
    frontier = with_url_identity(inputs["frontier"])
    candidates = filter_new_urls(spark, frontier, inputs["seen"])
    wave_period = max(1.0, n_urls / 2000.0)
    scheduled = schedule_wave(
        candidates, inputs["budgets"], wave_period,
        Throttle("CONCURRENT", 1e18), bounds=inputs["bounds"],
    )
    scheduled = salted_repartition(
        scheduled, spark.sparkContext.defaultParallelism, 16
    )
    fetched = scheduled.join(inputs["pages"], "url")
    plan = fetched._sc._jvm.PythonSQLUtils.explainString(
        fetched._jdf.queryExecution(), "formatted"
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        fh.write(plan)
    print(f"wrote {out_path}")


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    if cmd == "plans":
        out = sys.argv[2] if len(sys.argv) > 2 else "plans/r06"
        sfx = sys.argv[3] if len(sys.argv) > 3 else "before"
        names = sys.argv[4].split(",") if len(sys.argv) > 4 else None
        capture_plans(out, sfx, names)
    elif cmd == "time":
        names = sys.argv[2].split(",") if len(sys.argv) > 2 else None
        time_queries(names)
    elif cmd == "wave":
        wave_stages()
    elif cmd == "waveplan":
        out = sys.argv[2] if len(sys.argv) > 2 else "plans/r06/crawl_wave_synthetic_before.txt"
        wave_plan(out)
    else:
        raise SystemExit(f"unknown command {cmd}")
