"""Cross-SESSION resume: the interrupted crawl and its resume run in
two separate Spark JVMs (subprocesses), so the resume must re-register
the bucketed base tables from manifest DDL into a FRESH catalog
(SnapshotTable.read_bucketed's CREATE TABLE path) and fold the
frontier op log without any in-session state. Same-session resume is
covered in test_crawl_driver; this pins the only piece it can't —
catalog re-creation."""

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
    from swspark.session import get_spark
    from conftest import crawl_trace
    from swspark.driver import CrawlConfig, CrawlState, crawl
    from swspark.fixtures import generate_corpus
    from pyspark.sql import functions as F

    wh, max_waves, resume = sys.argv[1], int(sys.argv[2]), sys.argv[3] == "1"
    spark = get_spark("xsession", cores=4)
    c = generate_corpus("tiny")
    cfg = CrawlConfig(spec="urbandict", wave_period=10.0,
                      compact_every_waves=2, max_waves=max_waves)
    accept = lambda url, kind: F.when(
        kind == "URLSET", url.contains("term=")).otherwise(F.lit(True))
    crawl(spark, cfg, wh,
          spark.createDataFrame(c.seeds).where(F.col("scenario") == "dict_sitemap"),
          spark.createDataFrame(c.sitemaps),
          spark.createDataFrame(c.robots[["host", "body"]]),
          spark.createDataFrame(c.pages), accept=accept, resume=resume)
    rows = sorted(
        (int(r.wave), r.host, r.url, int(r.rank))
        for r in crawl_trace(spark, CrawlState(wh)).collect()
    )
    print("TRACE " + json.dumps(rows))
    spark.stop()
    """
).format(repo=REPO)


def _run(wh, max_waves, resume):
    r = subprocess.run(
        [sys.executable, "-c", RUNNER, wh, str(max_waves), "1" if resume else "0"],
        capture_output=True, text=True, timeout=600, cwd=REPO,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    line = [ln for ln in r.stdout.splitlines() if ln.startswith("TRACE ")][-1]
    return json.loads(line[len("TRACE "):])


def test_resume_in_fresh_jvm_equals_uninterrupted(tmp_path):
    full = _run(str(tmp_path / "full"), 100, resume=False)
    # interrupted after wave 2 (past the wave-1 compaction boundary —
    # the 3-wave dict crawl compacts after wave 1 with K=2), resumed
    # by a brand-new JVM with an empty catalog
    part = _run(str(tmp_path / "part"), 2, resume=False)
    assert len(part) < len(full)
    resumed = _run(str(tmp_path / "part"), 100, resume=True)
    assert resumed == full
