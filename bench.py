"""Benchmark harness (driver contract).

Prints ONE JSON line:
  {"metric": "frontier_urls_scheduled_fetched_per_sec", "value": N,
   "unit": "sec", "queries": {...per-query seconds...}, "sf": ...}

- headline metric: frontier URLs scheduled+fetched per second through
  the full wave machinery (canonicalize+hash -> exact anti-join vs a
  pre-seeded seen-set -> per-host window-rank budget cutoff -> salted
  repartition -> fetch join), on a deterministic synthetic frontier
  with a hot-host skew (BASELINE.json metric).
- per-query timings: the entry queries at $SPARK_GRAFT_SF_DIR
  (default /root/testdata/sf0.1) plus extraction throughput on
  fixture pages.

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_URLS (frontier rows, default 5_000_000),
SPARK_GRAFT_BENCH_QUERIES (comma list to restrict).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def build_synthetic_frontier(spark, n_urls: int, n_hosts: int = 1000):
    """Deterministic frontier with one hot registered domain owning
    ~10% of URLs (the skew case the salted repartition must absorb)."""
    df = spark.range(n_urls)
    host_id = F.when(F.pmod("id", F.lit(10)) == 0, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("id"), F.lit(n_hosts))
    )
    return df.select(
        F.concat(
            F.lit("https://h"),
            host_id.cast("string"),
            F.lit(".example.test/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example.test")).alias(
            "host"
        ),
        F.lit(0).alias("priority"),
        F.lit(None).cast("timestamp").alias("last_fetch_ts"),
    )


N_SEEN_BUCKETS = 64
PAGES_BUCKETS = 64


def prepare_crawl_wave(spark, n_urls: int) -> dict:
    """One-time physical layout, exactly the engine's designed scale
    shape (north star: bucketed page storage + exact seen-set).
    Setup cost is storage-build cost, not wave cost:

    - pages: parquet table bucketed by url (≙ Iceberg bucket(N, url))
      so the fetch join never shuffles the big side;
    - seen: exact table bucketed by url_hash (sort-merge anti-join,
      seen side shuffle-free);
    - budgets: tiny per-host dim (broadcast at join time).
    """
    from swspark.seen import with_url_identity

    import shutil

    cores = spark.sparkContext.defaultParallelism
    wh = os.path.join(
        os.environ.get("SPARK_GRAFT_BENCH_DIR", "/tmp/swspark-bench"),
        f"wh-{n_urls}-c{cores}",
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bench LOCATION '{wh}'")
    spark.sql("USE bench")

    frontier = build_synthetic_frontier(spark, n_urls)

    seen_src = with_url_identity(
        build_synthetic_frontier(spark, n_urls // 4).select("url")
    ).select("url_hash", "url_canon")
    seen_tbl = f"seen_{n_urls}"
    pages_tbl = f"pages_{n_urls}"
    for tbl in (seen_tbl, pages_tbl):
        # a fresh in-memory catalog doesn't know about leftovers from
        # a previous process; clear them so saveAsTable can land
        loc = os.path.join(wh, tbl)
        if not spark.catalog.tableExists(tbl) and os.path.exists(loc):
            shutil.rmtree(loc)
    if not spark.catalog.tableExists(seen_tbl):
        (
            seen_src.write.bucketBy(N_SEEN_BUCKETS, "url_hash")
            .sortBy("url_hash")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(seen_tbl)
        )
    if not spark.catalog.tableExists(pages_tbl):
        (
            build_synthetic_frontier(spark, n_urls)
            .select("url", F.encode(F.repeat(F.lit("x"), 64), "utf-8").alias("html"))
            .write.bucketBy(PAGES_BUCKETS, "url")
            .sortBy("url")
            .format("parquet")
            .mode("overwrite")
            .saveAsTable(pages_tbl)
        )
    seen = spark.table(seen_tbl)
    pages = spark.table(pages_tbl)

    hosts = frontier.select("host").distinct()
    m = F.length("host") % 3
    budgets = hosts.select(
        "host",
        F.when(m == 0, F.lit(0.5))
        .when(m == 1, F.lit(1.0))
        .otherwise(F.lit(2.0))
        .alias("crawl_delay"),
    ).persist()
    budgets.count()
    # hot-host rank boundaries sampled ONCE here, reused by every
    # wave — the driver's steady-state shape (RESAMPLE_BOUNDS_WAVES
    # is 8: 7 of 8 production waves skip the sampling scan;
    # bounds only steer balance, never results)
    from swspark.scheduler import default_n_buckets, sample_order_bounds

    bounds = sample_order_bounds(
        with_url_identity(frontier), default_n_buckets(spark),
        approx_count=n_urls,
    )
    return {"frontier": frontier, "seen": seen, "budgets": budgets,
            "pages": pages, "n_urls": n_urls, "bounds": bounds}


def run_crawl_wave(spark, inputs: dict, shape: str = "stress") -> tuple[float, int]:
    """One full scheduling wave on the designed layout:
    canonicalize+hash -> exact anti-join against the BUCKETED seen
    table -> distributed sample-boundary rank budget cutoff -> salted
    repartition -> fetch join against the bucketed pages table.
    Returns (seconds, urls_scheduled_and_fetched).

    ``shape`` picks the politeness regime (BENCH_SCALING reports both):

    - "stress": unbounded budget — the rank prunes nothing, every
      pending URL is sorted, ranked and fetch-joined. Worst case for
      the rank stage; n_urls rows flow through every stage.
    - "politeness": wave_period=60 s against the robots crawl-delays
      (0.5/1/2 s), so budgets are 120/60/30 per host while the hot
      host holds ~10% of the frontier — pending >> budget, the
      real-crawl shape. The distributed rank's pre-shuffle budget cut
      (rank_frontier_distributed budget_col) keeps pass 2 to
      O(buckets x budget) rows per host."""
    from swspark.scheduler import Throttle, salted_repartition, schedule_wave
    from swspark.seen import filter_new_urls, with_url_identity

    n_urls = inputs["n_urls"]
    t0 = time.perf_counter()
    frontier = with_url_identity(inputs["frontier"])
    candidates = filter_new_urls(spark, frontier, inputs["seen"])
    if shape == "politeness":
        wave_period = 60.0  # budget = 60/crawl_delay: 30..120 per host
    else:
        wave_period = max(1.0, n_urls / 2000.0)  # admit a large wave
    scheduled = schedule_wave(
        candidates, inputs["budgets"], wave_period, Throttle("CONCURRENT", 1e18),
        # steady-state wave: boundaries were sampled once at prepare
        # time (any sample is exact — boundaries steer balance, never
        # results; the driver resamples every RESAMPLE_BOUNDS_WAVES)
        bounds=inputs["bounds"],
    )
    scheduled = salted_repartition(
        scheduled, spark.sparkContext.defaultParallelism, 16
    )
    fetched = scheduled.join(inputs["pages"], "url")
    n = fetched.count()
    return time.perf_counter() - t0, n


def bench_crawl_wave(spark, n_urls: int, warmup: bool = True) -> tuple[float, int]:
    inputs = prepare_crawl_wave(spark, n_urls)
    if warmup:
        # full-size warmup: JIT at real hash-table/sort sizes, heap
        # region growth, tmpfs first-touch — a 1/10-size warmup leaves
        # the first full wave ~5x slower (measured)
        run_crawl_wave(spark, inputs)
    dt, n = run_crawl_wave(spark, inputs)
    for k in ("seen", "budgets", "pages"):
        inputs[k].unpersist()
    return dt, n


def bench_extraction(spark) -> tuple[float, int]:
    """Extraction throughput: full DOM parse + selector program over
    the fixture dict pages (Arrow UDF path), pages/sec."""
    import tempfile

    from swspark.extract.udf import apply_extraction
    from swspark.fixtures import ensure_corpus

    d = ensure_corpus(os.path.join(tempfile.gettempdir(), "swspark-bench-corpus"),
                      "small")
    pages = spark.read.parquet(os.path.join(d, "pages.parquet")).select(
        "url", "html"
    )
    pages = pages.persist()
    n = pages.count()
    t0 = time.perf_counter()
    rec, _urls, _errs = apply_extraction(pages, "fulltext")
    rec.count()
    dt = time.perf_counter() - t0
    pages.unpersist()
    return dt, n


def apply_tmpfs_defaults(clean_bench_dir: bool = True) -> None:
    """This box has ONE spill disk shared by all task threads — a
    non-scaling resource a real cluster multiplies with executors
    (BENCH.md). Default shuffle + bench tables to tmpfs when available
    so the measurement reflects the plan, not the disk."""
    if not os.path.isdir("/dev/shm"):
        return
    import shutil

    shm_tmp = "/dev/shm/spark-tmp"
    shm_bench = "/dev/shm/swspark-bench"
    os.makedirs(shm_tmp, exist_ok=True)
    if clean_bench_dir and os.path.isdir(shm_bench):
        shutil.rmtree(shm_bench)  # reclaim tmpfs from prior runs
    os.environ.setdefault("SPARK_GRAFT_LOCAL_DIR", shm_tmp)
    os.environ.setdefault("SPARK_GRAFT_BENCH_DIR", shm_bench)


def run_crawl_wave_stages(spark, inputs: dict) -> dict:
    """Per-stage attribution of one wave (BENCH_SCALING evidence):
    cumulative counts at each stage boundary; stage cost = delta
    (upstream recomputes, so deltas approximate marginal stage cost)."""
    from swspark.scheduler import Throttle, salted_repartition, schedule_wave
    from swspark.seen import filter_new_urls, with_url_identity

    n_urls = inputs["n_urls"]
    out = {}
    t0 = time.perf_counter()
    frontier = with_url_identity(inputs["frontier"])
    frontier.count()
    out["identity_hash"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    candidates = filter_new_urls(
        spark, with_url_identity(inputs["frontier"]), inputs["seen"])
    candidates.count()
    out["cum_seen_antijoin"] = time.perf_counter() - t0

    wave_period = max(1.0, n_urls / 2000.0)
    t0 = time.perf_counter()
    scheduled = schedule_wave(
        filter_new_urls(
            spark, with_url_identity(inputs["frontier"]), inputs["seen"]),
        inputs["budgets"], wave_period, Throttle("CONCURRENT", 1e18),
        bounds=inputs["bounds"],
    )
    scheduled.count()
    out["cum_rank"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    scheduled = schedule_wave(
        filter_new_urls(
            spark, with_url_identity(inputs["frontier"]), inputs["seen"]),
        inputs["budgets"], wave_period, Throttle("CONCURRENT", 1e18),
        bounds=inputs["bounds"],
    )
    scheduled = salted_repartition(
        scheduled, spark.sparkContext.defaultParallelism, 16
    )
    scheduled.join(inputs["pages"], "url").count()
    out["cum_full_wave"] = time.perf_counter() - t0
    return {k: round(v, 2) for k, v in out.items()}


def _settle(cpus: int) -> dict:
    """Canary-based load-settle guard.

    The r2 loadavg-only guard let a contaminated measurement through:
    a heavy job (the test suite) finishing minutes earlier inflates
    every timing 5-10x while load decays slower than the wait cap.
    Instead of trusting loadavg alone, TIME a fixed CPU-bound
    multithreaded numpy kernel: on a quiet box consecutive runs match
    its best; while the box is digesting prior work the canary keeps
    improving (streak resets), so we keep waiting. Exit needs 3+
    samples, 2 consecutive within 15% of best without a new best, and
    a sane loadavg — bounded by SPARK_GRAFT_SETTLE_MAX so the harness
    can't hang. Returns diagnostics that ride into the bench JSON."""
    import threading
    import time as _time

    import numpy as np

    def canary() -> float:
        def work():
            x = np.arange(200_000, dtype=np.uint64)
            for _ in range(60):
                x = (x * np.uint64(0x9E3779B97F4A7C15)) ^ (x >> np.uint64(13))
            int(x[0])  # keep the buffer alive

        ths = [threading.Thread(target=work) for _ in range(8)]
        t0 = _time.perf_counter()
        for t in ths:
            t.start()
        for t in ths:
            t.join()
        return _time.perf_counter() - t0

    deadline = _time.time() + int(os.environ.get("SPARK_GRAFT_SETTLE_MAX", "300"))
    best, streak, samples, load1, t = float("inf"), 0, 0, 0.0, 0.0
    while True:
        t = canary()
        samples += 1
        if t > best * 1.15:
            streak = 0  # contended right now
        elif t < best * 0.87:
            streak = 0  # still improving: the prior 'best' was dirty
        else:
            streak += 1
        best = min(best, t)
        try:
            with open("/proc/loadavg") as fh:
                load1 = float(fh.read().split()[0])
        except OSError:
            load1 = 0.0
        if samples >= 3 and streak >= 2 and load1 < max(2.0, cpus / 4):
            break
        if _time.time() >= deadline:
            break
        _time.sleep(5)
    return {
        "samples": samples,
        "canary_best_s": round(best, 4),
        "canary_last_s": round(t, 4),
        "loadavg": load1,
        "converged": samples >= 3 and streak >= 2,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_urls = int(os.environ.get("SPARK_GRAFT_BENCH_URLS", "5000000"))
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")

    apply_tmpfs_defaults()

    settle_info = _settle(cpus)

    from swspark.session import get_spark

    spark = get_spark("swspark-bench", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    timings: dict[str, float] = {}

    # headline: wave throughput
    dt, n_fetched = bench_crawl_wave(spark, n_urls)
    timings["crawl_wave_synthetic"] = round(dt, 3)
    urls_per_sec = n_fetched / dt if dt else 0.0

    edt, n_pages = bench_extraction(spark)
    timings["extract_fulltext_20k_pages"] = round(edt, 3)

    bench_queries = [
        "schedule_wave", "seen_anti_join", "host_agg", "events_daily",
        "exact_dedup", "token_stats", "quality_score", "lang_id",
        "fingerprint", "ann_topk", "minhash_lsh", "embedding_neardup",
    ]
    if only:
        bench_queries = [q for q in bench_queries if q in only.split(",")]
    qs = entry.queries()
    for name in bench_queries:
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).count()
        timings[name] = round(time.perf_counter() - t0, 3)

    out = {
        "metric": "frontier_urls_scheduled_fetched_per_sec",
        "value": round(urls_per_sec, 1),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "frontier_urls": n_urls,
        "urls_fetched": n_fetched,
        "extract_pages_per_sec": round(n_pages / edt, 1) if edt else 0.0,
        "settle": settle_info,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
