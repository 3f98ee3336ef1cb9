"""swspark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload frontier_wave --seed 1 \\
        --seconds 8 --trace 0

Run it from the root of a checkout. It sets up the workload from the
seed (Spark session, inputs, table layout), runs operations closed
loop (the next starts when the previous returns) until their summed
time reaches ``--seconds``, checks every operation's outputs outside
the timed region, and prints a report whose last line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` and the CPU
time one operation costs (``cpu_s``, ``urls_per_cpu_s``), summed over
the JVM, its Python workers and this process, and scaled by the share
of the machine's time the host did not steal while it ran. A shared
host's neighbours both take CPU away and slow what is left; measured,
an operation's CPU time grew as 1 / (1 - stolen share), and its wall
time faster still. The wall-time medians and the stolen share are
printed on the report lines above the JSON. ``--trace 1`` runs
untraced and traced operations alternately and reports the per-layer
metrics, with the traced total beside the untraced ``op_s``; its spans
are written to ``perfbench/out/`` at exit. The exit code is 0 only
when every operation passed its check.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Setup repeats its layout step and reports the median of the repeats:
# the first pays the JVM's cold start, so the median is a warm one.
LAYOUT_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "urls_per_cpu_s": "1/s",
}

# name -> unit; a layer a workload does not run reports 0
PER_LAYER = {
    "peak_rss_mb": "MB",
    "urlnorm.busy_s": "s", "urlnorm.rows": "count",
    "seen.busy_s": "s", "seen.rows_in": "count", "seen.rows_new": "count",
    "seen.new_ratio": "ratio", "seen.shard_build_s": "s",
    "scheduler.bounds_s": "s", "scheduler.busy_s": "s",
    "scheduler.rows_in": "count", "scheduler.rows_out": "count",
    "scheduler.admit_ratio": "ratio", "scheduler.partition_skew": "ratio",
    "fetch.busy_s": "s", "fetch.pages_in": "count", "fetch.pages_out": "count",
    "fetch.hit_ratio": "ratio",
    "extract.busy_s": "s", "extract.pages": "count",
    "extract.records": "count", "extract.errors": "count",
    "sitemaps.busy_s": "s", "sitemaps.urls_out": "count",
    "robots.busy_s": "s", "robots.rows_in": "count",
    "robots.rows_allowed": "count",
    **{f"tables.commit_s.{t}": "s" for t in (
        "records", "trace", "errors", "seen", "shards", "discovered",
        "frontier")},
    "tables.commits": "count", "tables.bytes_written": "bytes",
    "driver.busy_s": "s", "driver.wave_s.w0": "s",
    "sink.busy_s": "s", "sink.rows": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "trace.op_s": "s", "trace.untraced_op_s": "s", "trace.overhead": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["frontier_wave", "crawl_news", "scrap_pages"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """A quarter of physical memory, at most 8 GiB: the heap must fit in
    RAM beside the Python workers and other tenants."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return min(8192, total_kb // 4096)


def prepare_env(work: str, cores: int) -> dict:
    """Every directory Spark, the JVM and Python write to lives under
    ``work``, inside the checkout."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "wh")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        # Python workers import the engine from this checkout
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_LOCAL_DIR": dirs["local"],
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb()}m",
        "SPARK_GRAFT_CPUS": str(cores),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def children_of(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        todo += kids
    return out


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot: steal is the
    time the host gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def cpu_seconds(pids: list[int]) -> float:
    """User and system CPU time of ``pids`` and of the children each has
    reaped, plus this process's own."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    t = os.times()
    return total / ticks + t.user + t.system


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of the JVM plus its Python workers: the sum
    of their ``VmHWM``, sampled after every operation."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.peak_kb = 0
        self.parts: list[int] = []

    def sample(self) -> None:
        pids = [self.jvm_pid] + children_of(self.jvm_pid)
        self.parts = [vm_hwm_kb(p) for p in pids]
        self.peak_kb = max(self.peak_kb, sum(self.parts))


def start_spark(dirs: dict, cores: int):
    from swspark.session import get_spark

    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf={
                          "spark.sql.warehouse.dir": dirs["wh"],
                          "spark.driver.extraJavaOptions":
                              "-XX:-DontCompileHugeMethods "
                              f"-Djava.io.tmpdir={dirs['tmp']}",
                          "spark.ui.showConsoleProgress": "false",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until each has ended."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = children_of(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


class Runner:
    def __init__(self, spark, wl, tracer, rss):
        self.spark, self.wl, self.tracer, self.rss = spark, wl, tracer, rss
        self.ops: list[dict] = []

    def run_op(self, traced: bool) -> dict:
        """One operation, timed; its output check runs after the clock
        stops. Raising or failing the check marks it failed."""
        from perfbench.trace import spark_counts

        sc = self.spark.sparkContext
        i = len(self.ops)
        group = f"op-{i}"
        self.tracer.op = i
        sc.setJobGroup(group, group)
        pids = [self.rss.jvm_pid] + children_of(self.rss.jvm_pid)
        c0, j0 = cpu_seconds(pids), cpu_jiffies()
        t0 = time.perf_counter()
        try:
            res = self.wl.traced_op(self.tracer) if traced else self.wl.op()
            error = None
        except Exception:
            res, error = None, traceback.format_exc()
        op_s = time.perf_counter() - t0
        j1 = cpu_jiffies()
        pids += [p for p in children_of(self.rss.jvm_pid) if p not in pids]
        steal = _ratio(j1[0] - j0[0], j1[1] - j0[1])
        sc.setLocalProperty("spark.jobGroup.id", None)
        rec = {"i": i, "traced": traced, "op_s": op_s,
               "cpu_s": (cpu_seconds(pids) - c0) * (1.0 - steal),
               "steal": steal,
               **spark_counts(self.spark, group)}
        if error is None:
            res["op_s"] = op_s
            try:
                if traced:
                    # per-layer counts that need extra Spark jobs
                    rec["layers"] = res.pop("finish")()
                fails = self.wl.check(res)
                rec.update(urls=res["urls"], waves=self.wl.waves(res))
            except Exception:
                fails = [traceback.format_exc()]
        else:
            fails = [error]
        rec["failures"] = fails
        for f in fails:
            print(f"op {i} FAILED: {f}", file=sys.stderr)
        self.rss.sample()
        self.ops.append(rec)
        return rec

    def loop(self, seconds: float, trace: bool) -> None:
        """Closed loop until the operations' summed time reaches
        ``seconds``. A traced run alternates traced and untraced
        operations, traced first, and makes at least one pair: on a
        workload without warm-up the traced operation is then the
        JVM's first, like the untraced run's, and ``trace.overhead``
        also holds the warm-up the untraced one skips."""
        measured, k = 0.0, 0
        while True:
            rec = self.run_op(traced=trace and k % 2 == 0)
            measured += rec["op_s"]
            k += 1
            if measured >= seconds and (not trace or k >= 2):
                return


def _ratio(a, b) -> float:
    return a / b if b else 0.0


def end_to_end(ops: list[dict], setup_s: float) -> dict:
    """The bounded metrics: set-up time, and the CPU time an operation
    costs (median over the operations that passed their check)."""
    ok = [o for o in ops if not o["failures"]]
    if not ok:
        return {}
    return {
        "setup_s": setup_s,
        "cpu_s": statistics.median(o["cpu_s"] for o in ok),
        "urls_per_cpu_s": statistics.median(o["urls"] / o["cpu_s"] for o in ok),
    }


def wall_clock(ops: list[dict]) -> dict:
    """Wall-time medians over the untraced operations that passed their
    check, and the share of CPU time the host stole during them."""
    ok = [o for o in ops if not o["traced"] and not o["failures"]]
    if not ok:
        return {}
    return {
        "urls_per_s": (statistics.median(o["urls"] / o["op_s"] for o in ok), "1/s"),
        "wave_s_max": (statistics.median(max(o["waves"]) for o in ok), "s"),
        "steal": (statistics.median(o["steal"] for o in ok), "ratio"),
    }


def per_layer(ops: list[dict], tracer, rss: PeakRss) -> dict:
    traced = [o for o in ops if o["traced"] and not o["failures"]]
    plain = [o for o in ops if not o["traced"] and not o["failures"]]
    if not traced or not plain:
        return {}

    def med(key, rows):
        return statistics.median(r.get(key, 0.0) for r in rows)

    rows = []
    for o in traced:
        r = dict(o.get("layers", {}))
        for name, s in tracer.self_time_by_name(o["i"]).items():
            if name.startswith("tables.commit_s."):
                r[name] = r.get(name, 0.0) + s
            elif name == "scheduler.bounds":
                r["scheduler.bounds_s"] = r.get("scheduler.bounds_s", 0.0) + s
            elif name == "seen.shards":
                r["seen.shard_build_s"] = r.get("seen.shard_build_s", 0.0) + s
            elif "." not in name:
                r[f"{name}.busy_s"] = r.get(f"{name}.busy_s", 0.0) + s
        if "tables.commit_s.shards" in r:
            # the shard build is lazy: it executes in the shards commit
            r["seen.shard_build_s"] = (r.get("seen.shard_build_s", 0.0)
                                       + r["tables.commit_s.shards"])
        r["seen.new_ratio"] = _ratio(r.get("seen.rows_new", 0),
                                     r.get("seen.rows_in", 0))
        r["scheduler.admit_ratio"] = _ratio(r.get("scheduler.rows_out", 0),
                                            r.get("scheduler.rows_in", 0))
        r["fetch.hit_ratio"] = _ratio(r.get("fetch.pages_out", 0),
                                      r.get("fetch.pages_in", 0))
        rows.append(r)
    out = {k: med(k, rows) for k in PER_LAYER}
    for k in ("spark.jobs", "spark.stages", "spark.tasks"):
        out[k] = med(k, plain)
    out["trace.op_s"] = med("op_s", traced)
    out["trace.untraced_op_s"] = med("op_s", plain)
    out["trace.overhead"] = out["trace.op_s"] / out["trace.untraced_op_s"] - 1.0
    out["peak_rss_mb"] = rss.peak_kb / 1024.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import swspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine ({exc}); run from the "
              "root of a swspark checkout", file=sys.stderr)
        return 2

    from perfbench.stats import fail_ratio, summarize
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    cores = n_cores()
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    dirs = prepare_env(work, cores)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(dirs, cores)
        session_s = time.perf_counter() - t0
        from pyspark import SparkContext

        rss = PeakRss(SparkContext._gateway.proc.pid)
        wl = WORKLOADS[args.workload](spark, work, args.seed, cores)
        t0 = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t0
        layout_s = []
        for _ in range(LAYOUT_REPEATS):
            t0 = time.perf_counter()
            wl.layout()
            layout_s.append(time.perf_counter() - t0)
        setup_s = session_s + gen_s + statistics.median(layout_s)

        tracer = Tracer()
        runner = Runner(spark, wl, tracer, rss)
        for _ in range(wl.warmups):
            wl.op()
        runner.loop(args.seconds, bool(args.trace))
        ops = runner.ops
        attempted = len(ops)
        failed = sum(1 for o in ops if o["failures"])
        metrics = (per_layer(ops, tracer, rss) if args.trace
                   else end_to_end(ops, setup_s))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = PER_LAYER if args.trace else END_TO_END
    correct = failed == 0 and bool(metrics)
    detail = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "heap_mb": heap_mb(), "session_s": session_s, "generate_s": gen_s,
        "layout_s": layout_s, "fail_ratio": fail_ratio(attempted, failed),
        "peak_rss_mb": rss.peak_kb / 1024.0, "rss_parts_kb": rss.parts,
        "ops": ops, "metrics": metrics,
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"trace-{tag}.json"), detail)
    else:
        with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as fh:
            json.dump(detail, fh, indent=1, default=str)

    print(f"workload {args.workload} seed {args.seed}: {attempted} operations, "
          f"{failed} failed, fail_ratio {detail['fail_ratio']:.4f} "
          f"(closed loop, 1 client, {cores} cores, heap {heap_mb()} MB)")
    plain = [o for o in ops if not o["traced"] and not o["failures"]]
    for name, values in (("op_s", [o["op_s"] for o in plain]),
                         ("wave_s", [w for o in plain for w in o["waves"]]),
                         ("cpu_s", [o["cpu_s"] for o in plain])):
        s = summarize(values)
        if not s["n"]:
            continue
        tail = (f"p{s['tail_p']:g} {s['tail']:.4f} s" if s["tail_p"]
                else "no percentile has 10 samples beyond it")
        print(f"  {name}: median {s['median']:.4f} s, {tail}, n={s['n']}")
    for k, (v, unit) in wall_clock(ops).items():
        print(f"  {k}: median {v:.6g} {unit}")
    if not args.trace:
        # memory is a per-layer metric, not in this run's JSON line: the
        # JVM's peak resident size moves with collector timing by more
        # than any bound a regression check could use
        print(f"  peak_rss_mb: {detail['peak_rss_mb']:.1f} MB (VmHWM of the "
              "JVM and its Python workers)")
    for k, v in metrics.items():
        print(f"  {k}: {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
