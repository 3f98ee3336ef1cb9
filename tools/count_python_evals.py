"""Count the Python worker invocations of one crawl, per UDF.

Crawls the `tiny` fixture corpus the way perfbench's `crawl_news`
operation does (same seeds, spec and wave period, records to CSV) in
a fresh Spark session whose Python workers run through a logging
wrapper of ``pyspark.worker``: ``spark.python.worker.module`` names a
module written to a temporary directory on the workers' PYTHONPATH
(the daemon accepts only module names starting with ``pyspark``). The
wrapper logs one line per worker invocation (one task's pass through
``pyspark.worker.main``): pid, the qualnames of the UDFs the task ran,
and the process CPU time the invocation took.

    python tools/count_python_evals.py [--seed 1] [--cores N]

Prints invocations and CPU seconds per UDF, then the totals. An
invocation that ended before it read a command (a task cancelled once
a ``limit`` had its rows) is listed as ``-``.
"""

from __future__ import annotations

import argparse
import collections
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WRAPPER_MODULE = "pyspark_evalcount"

WRAPPER_SOURCE = '''\
import os
import time

import pyspark.worker as _worker

_LOG = {log!r}
_names = []
_read_command = _worker.read_command


def _logged_read_command(ser, infile):
    out = _read_command(ser, infile)
    # a UDF's command is (function, return type); an RDD's is
    # (function, profiler, deserializer, serializer)
    if isinstance(out, tuple) and out and callable(out[0]):
        f = out[0]
        name = getattr(f, "__qualname__", type(f).__name__)
        _names.append(name.replace("<locals>.", ""))
    return out


_worker.read_command = _logged_read_command


def main(infile, outfile):
    _names.clear()
    t0 = time.process_time()
    try:
        _worker.main(infile, outfile)
    finally:
        line = "%d\\t%s\\t%.4f\\n" % (
            os.getpid(), "+".join(_names) or "-", time.process_time() - t0)
        with open(_LOG, "a") as fh:
            fh.write(line)
'''


def summarize(log_path: str) -> list[tuple[str, int, float]]:
    """(udf, invocations, cpu_s) per UDF name, most invoked first."""
    n = collections.Counter()
    cpu = collections.Counter()
    with open(log_path) as fh:
        for line in fh:
            _pid, name, s = line.rstrip("\n").split("\t")
            n[name] += 1
            cpu[name] += float(s)
    return sorted(((k, n[k], cpu[k]) for k in n), key=lambda r: (-r[1], r[0]))


def main(argv=None) -> int:
    from perfbench.run import n_cores, prepare_env, stop_spark

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)
    cores = args.cores or n_cores()

    work = tempfile.mkdtemp(prefix="swspark-evalcount-")
    spark = None
    try:
        prepare_env(work, cores)
        log = os.path.join(work, "invocations.tsv")
        mod_dir = os.path.join(work, "mod")
        os.makedirs(mod_dir)
        with open(os.path.join(mod_dir, f"{WRAPPER_MODULE}.py"), "w") as fh:
            fh.write(WRAPPER_SOURCE.format(log=log))
        os.environ["PYTHONPATH"] = mod_dir + os.pathsep + os.environ["PYTHONPATH"]

        from perfbench.workloads import CrawlNews
        from swspark.session import get_spark

        spark = get_spark("count-python-evals", cores=cores,
                          shuffle_partitions=cores, extra_conf={
                              "spark.sql.warehouse.dir": os.path.join(work, "wh"),
                              "spark.python.worker.module": WRAPPER_MODULE,
                              "spark.ui.showConsoleProgress": "false",
                          })
        spark.sparkContext.setLogLevel("ERROR")
        wl = CrawlNews(spark, work, args.seed, cores)
        wl.generate()
        wl.layout()
        open(log, "w").close()  # count the crawl, not the layout
        res = wl.op()
        rows = summarize(log)
        fails = wl.check(res)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"crawl_news config, tiny corpus, seed {args.seed}, {cores} cores: "
          f"{res['urls']} pages fetched")
    print(f"{'invocations':>11}  {'cpu_s':>7}  udf")
    for name, n, s in rows:
        print(f"{n:>11}  {s:>7.2f}  {name}")
    print(f"{sum(r[1] for r in rows):>11}  {sum(r[2] for r in rows):>7.2f}  total")
    for f in fails:
        print(f"check FAILED: {f}", file=sys.stderr)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
