"""Single-box memory-bandwidth scaling ceiling (BENCH_SCALING context).

The north rule's bar is scaling efficiency >=0.8 from N to 4N
*executors* — i.e. 4 machines with 4x the DRAM channels, LLC and disk
of one. This sandbox substitutes local[8] -> local[32] on ONE box, so
the 32-core run shares the exact same memory bus the 8-core run had.
For compute-bound stages that substitution is fair; for
bandwidth-bound stages (sort-merge anti-join, wide-row shuffle) it is
strictly pessimistic: the single-box measurement can never exceed the
box's own bandwidth-scaling ceiling, which a real 4-node allocation
does not impose.

This tool measures that ceiling directly with three kernels chosen to
bracket the crawl wave's memory behavior, run as P CPU-pinned
processes (the same ``taskset`` protocol bench_scaling.py uses),
synchronized on a start-time barrier so every timed window overlaps
fully across workers:

- ``triad``   : STREAM-like a = b + s*c over float64 arrays >> LLC —
                pure sequential DRAM bandwidth (shuffle write/read,
                parquet scan).
- ``sort``    : np.sort over a 64 MiB int64 array — the sort-merge
                join / window-rank kernel shape.
- ``gather``  : random-index gather from a 512 MiB table — hash-probe
                shape (latency+bandwidth bound).

Each worker times 3 back-to-back windows; the aggregate for a level is
the best window-wise sum (steal noise only ever deflates a window).
Output: aggregate throughput per level and N->4N scaling efficiency
per kernel. If the box's OWN ceiling for a kernel is e.g. 0.6 at
8->32, a crawl-wave stage dominated by that kernel measuring 0.7 on
this box is ABOVE the hardware ceiling for pure-bandwidth work, and
the honest cluster prediction (4x buses at 4N executors) is higher
still.

Usage: python tools/bench_membw.py [--levels 1,4,8,16,32] [--secs 6]
       python tools/bench_membw.py --worker KERNEL CORE SECS START  # internal
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import time

import numpy as np

WINDOWS = 5


def _steal_jiffies() -> int:
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8])
    except Exception:
        return -1


def _kernel_triad(secs: float):
    n = 4 * 1024 * 1024  # 3 x 32 MiB float64 >> per-worker LLC share
    b = np.random.default_rng(1).random(n)
    c = np.random.default_rng(2).random(n)
    a = np.empty_like(b)
    np.multiply(c, 1.0, out=a)  # pre-fault a's pages outside timed windows
    np.add(a, b, out=a)

    def window():
        passes = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < secs:
            np.multiply(c, 1.000001, out=a)
            np.add(a, b, out=a)
            passes += 1
        return passes * 3 * n * 8 / (time.perf_counter() - t0)

    return window


def _kernel_sort(secs: float):
    n = 8 * 1024 * 1024  # 64 MiB per sort, out of cache
    base = np.random.default_rng(3).integers(0, 2**62, size=n, dtype=np.int64)
    np.sort(base)  # pre-fault scratch

    def window():
        done = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < secs:
            np.sort(base, kind="quicksort")
            done += n
        return done / (time.perf_counter() - t0)

    return window


def _kernel_gather(secs: float):
    table = np.random.default_rng(4).integers(
        0, 2**62, size=16 * 1024 * 1024, dtype=np.int64  # 128 MiB
    )
    idx = np.random.default_rng(5).integers(
        0, table.size, size=2 * 1024 * 1024, dtype=np.int64
    )
    table[idx].sum()  # warmup

    def window():
        passes = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < secs:
            table[idx].sum()
            passes += 1
        return passes * idx.size * 8 / (time.perf_counter() - t0)

    return window


KERNELS = {"triad": _kernel_triad, "sort": _kernel_sort, "gather": _kernel_gather}


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        kernel, core = sys.argv[2], int(sys.argv[3])
        secs, start = float(sys.argv[4]), float(sys.argv[5])
        window = KERNELS[kernel](secs)  # allocate BEFORE the barrier
        delay = start - time.time()
        if delay < 0:
            print(json.dumps({"core": core, "late_s": -delay, "rates": []}))
            return
        time.sleep(delay)
        rates = [window() for _ in range(WINDOWS)]
        print(json.dumps({"core": core, "late_s": 0.0, "rates": rates}))
        return
    argv = list(sys.argv[1:])
    levels = [1, 4, 8, 16, 32]
    if "--levels" in argv:
        i = argv.index("--levels")
        levels = [int(x) for x in argv[i + 1].split(",")]
        del argv[i : i + 2]
    secs = 6.0
    if "--secs" in argv:
        i = argv.index("--secs")
        secs = float(argv[i + 1])
        del argv[i : i + 2]
    reps = 1
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
    taskset = shutil.which("taskset")
    assert taskset, "taskset required for pinned measurement"
    out: dict = {
        "protocol": (
            "P pinned workers (taskset -c i), start-time barrier after "
            f"allocation, {WINDOWS} windows each, aggregate = best "
            "window-wise sum"
        ),
        "secs_per_window": secs,
        "kernels": {},
    }
    for kernel in KERNELS:
        per_level: dict = {}
        steal_by_level: dict = {}
        for p in levels:
          for _ in range(reps):
            steal0 = _steal_jiffies()
            # allocation budget scales with contention (page-faulting
            # fresh memory in this microVM costs ~12s of sys time per
            # 768 MiB worker); barrier after it
            start = time.time() + 10.0 + 1.0 * p
            procs = [
                subprocess.Popen(
                    [taskset, "-c", str(core), sys.executable, __file__,
                     "--worker", kernel, str(core), str(secs), str(start)],
                    stdout=subprocess.PIPE, text=True,
                )
                for core in range(p)
            ]
            results = [json.loads(pr.communicate()[0]) for pr in procs]
            late = [r for r in results if not r["rates"]]
            if late:
                raise RuntimeError(
                    f"{kernel} P={p}: {len(late)} workers missed the "
                    "barrier; raise the allocation budget"
                )
            window_sums = [
                sum(r["rates"][w] for r in results) for w in range(WINDOWS)
            ]
            per_level[p] = max(per_level.get(p, 0.0), max(window_sums))
            steal = _steal_jiffies() - steal0
            steal_by_level[p] = steal_by_level.get(p, 0) + steal
            print(
                f"{kernel:7s} P={p:3d} best={max(window_sums):.3e} "
                f"steal={steal} "
                f"windows={['%.2e' % s for s in window_sums]}",
                file=sys.stderr,
            )
        eff = {}
        for n, n4 in ((1, 4), (2, 8), (4, 16), (8, 32)):
            if n in per_level and n4 in per_level:
                eff[f"{n}to{n4}"] = round(per_level[n4] / per_level[n] / 4, 4)
        out["kernels"][kernel] = {
            "aggregate_by_cores": per_level,
            "steal_jiffies_by_cores": steal_by_level,
            "scaling_efficiency": eff,
        }
    out["reps_merged_best"] = reps
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
