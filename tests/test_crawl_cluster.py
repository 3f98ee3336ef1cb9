"""VERDICT r4 #5: one full crawl() wave loop on ``local-cluster[2,2]``
— two separate executor JVMs with their own Python worker pools — so
the whole driver (sitemap expansion, distributed rank, fetch join,
seen anti-joins, op-log commits) is proven outside one JVM,
including a resume after a HARD process kill (os._exit, no graceful
spark.stop, no atexit) mid-crawl, which resumes from the committed
tables alone.
"""

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUNNER = textwrap.dedent(
    """
    import json, os, sys
    sys.path.insert(0, {repo!r})
    sys.path.insert(0, os.path.join({repo!r}, "tests"))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from conftest import crawl_trace
    from swspark.driver import CrawlConfig, CrawlState, crawl
    from swspark.fixtures import generate_corpus

    wh, max_waves, resume, hard_kill = (
        sys.argv[1], int(sys.argv[2]), sys.argv[3] == "1", sys.argv[4] == "1",
    )
    spark = (
        SparkSession.builder.master("local-cluster[2,2,1200]")
        .appName("crawl-xproc")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.executor.memory", "1g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", {repo!r})
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    c = generate_corpus("tiny")
    cfg = CrawlConfig(spec="urbandict", wave_period=10.0,
                      compact_every_waves=2, max_waves=max_waves)
    accept = lambda url, kind: F.when(
        kind == "URLSET", url.contains("term=")).otherwise(F.lit(True))
    crawl(spark, cfg, wh,
          spark.createDataFrame(c.seeds).where(
              F.col("scenario") == "dict_sitemap"),
          spark.createDataFrame(c.sitemaps),
          spark.createDataFrame(c.robots[["host", "body"]]),
          spark.createDataFrame(c.pages), accept=accept, resume=resume)
    rows = sorted(
        (int(r.wave), r.host, r.url, int(r.rank))
        for r in crawl_trace(spark, CrawlState(wh)).collect()
    )
    assert "local-cluster" in spark.conf.get("spark.master")
    print("TRACE " + json.dumps(rows), flush=True)
    if hard_kill:
        os._exit(0)  # simulate a driver kill: no spark.stop, no atexit
    spark.stop()
    """
).format(repo=REPO)


def _run(wh, max_waves, resume, hard_kill=False):
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO + os.pathsep + env.get("PYTHONPATH", "")
    r = subprocess.run(
        [sys.executable, "-c", RUNNER, wh, str(max_waves),
         "1" if resume else "0", "1" if hard_kill else "0"],
        capture_output=True, text=True, timeout=900, cwd=REPO, env=env,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-4000:])
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("TRACE ")][-1]
    return json.loads(line[len("TRACE "):])


def test_full_crawl_on_local_cluster_with_kill_resume(tmp_path):
    # uninterrupted reference run on the same cluster master
    full = _run(str(tmp_path / "full"), 100, resume=False)
    assert len(full) == 41  # the fixture's golden crawl size
    assert len({w for w, _, _, _ in full}) >= 3  # multi-wave politeness
    # partial run, then HARD-killed after wave 1 committed
    wh = str(tmp_path / "killed")
    part = _run(wh, 1, resume=False, hard_kill=True)
    assert 0 < len(part) < len(full)
    # resume in a fresh driver + fresh executor JVMs -> identical trace
    resumed = _run(wh, 100, resume=True)
    assert resumed == full
