"""Wave scheduling: politeness budgets + per-host window rank + salted
skew-aware placement.

The reference throttles *time*: ``Concurrent(n)`` in-flight cap,
``PerSecond(n)`` token bucket, ``Delay(s)`` min gap between request
starts, with robots Crawl-delay auto-adopted (config.rs:88-102,
limiter.rs:19-57, crawler.rs:235-241). A batch wave instead throttles
*count*: politeness becomes data — a per-host ``budget`` column — and
the cutoff is a deterministic window rank (SURVEY.md §2 A24/A25,
§4). The equivalence is ``budget = floor(wave_period / delay)`` resp.
``rps x wave_period``, proven by the golden-trace tests.

Determinism: rank ordering is (priority DESC, last_fetch_ts ASC NULLS
FIRST, url ASC) — the url tiebreak makes crawl-order traces exact
(SURVEY.md §4). Skew: rank is computed on the *host* key first; the
salted repartition afterwards is pure placement and cannot split a
budget (SURVEY.md §7 risk 4).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Throttle:
    """Engine throttle config (reference: Throttle enum,
    config.rs:88-96; default Concurrent(100), config.rs:98-102)."""

    kind: str = "CONCURRENT"  # CONCURRENT | PER_SECOND | DELAY
    value: float = 100.0

    def __post_init__(self):
        if self.kind == "DELAY" and not self.value > 0:
            # crawler.rs:238: Delay must be > 0
            raise ValueError("Throttle.DELAY requires value > 0")


def politeness_budget(
    crawl_delay: Column,
    wave_period: float,
    throttle: Throttle = Throttle(),
) -> Column:
    """Per-host fetch budget for one wave.

    Precedence mirrors crawler.rs:235-241: an explicit non-default
    throttle wins; otherwise a robots Crawl-delay forces Delay
    semantics; otherwise the default Concurrent cap applies (in batch,
    Concurrent(n) bounds in-flight work, which a wave satisfies by
    construction — so it maps to an n-per-host wave cap).
    """
    if throttle.kind == "PER_SECOND":
        explicit = F.lit(int(throttle.value * wave_period))
    elif throttle.kind == "DELAY":
        explicit = F.greatest(
            F.lit(1), F.floor(F.lit(wave_period / throttle.value))
        ).cast("int")
    else:  # CONCURRENT
        explicit = F.lit(int(throttle.value))

    from_delay = F.greatest(
        F.lit(1), F.floor(F.lit(wave_period) / crawl_delay)
    ).cast("int")

    if throttle.kind == "CONCURRENT":
        # default throttle yields to robots Crawl-delay when present
        return F.when(
            crawl_delay.isNotNull() & (crawl_delay > 0), from_delay
        ).otherwise(explicit)
    return explicit.cast("int")


SCHEDULE_ORDER = ("priority", "last_fetch_ts", "url")

# (column, ascending, nulls_first) for the per-host schedule order
# (priority DESC NULLS LAST, last_fetch_ts ASC NULLS FIRST, url ASC).
# The bucket comparator deliberately EXCLUDES host: order-consistent
# bucketing only needs within-host monotonicity, which the global
# schedule order (priority DESC NULLS LAST, last_fetch_ts ASC NULLS
# FIRST, url ASC) gives for every host at once.
_SAMPLE_SEED = 0x5157


# Packing layout for the url order key: cmp-vs-lcp in {-1,0,1} maps
# to {0,1,2} << 57, the next 7 url bytes (< 2^56) fill the low bits.
_PC_SHIFT = 1 << 57
_TS_NULL_KEY = -(1 << 62)
_KP_NULL_KEY = float("inf")


def _kp_expr() -> Column:
    """priority DESC NULLS LAST as an ascending never-null double."""
    return (
        F.when(F.col("priority").isNull(), F.lit(_KP_NULL_KEY))
        .otherwise(-F.col("priority").cast("double"))
    )


def _kt_expr() -> Column:
    """last_fetch_ts ASC NULLS FIRST as an ascending never-null
    long (exact stored microseconds — sub-second deltas preserved)."""
    return (
        F.when(F.col("last_fetch_ts").isNull(), F.lit(_TS_NULL_KEY))
        .otherwise(F.unix_micros(F.col("last_fetch_ts")))
    )


def _ku_expr(lcp: bytes) -> Column:
    """url ASC coarsened to an ascending never-null long: ONE binary
    compare of the url's first len(lcp) bytes against the bounds'
    common prefix (packed high), then the next 7 url bytes packed
    verbatim. A monotone COARSENING of byte order — urls that agree
    on lcp + 7 more bytes collapse to the same key, which can only
    merge adjacent buckets, never reorder them."""
    url_b = F.encode(F.col("url"), "utf-8")
    ln = len(lcp)
    if ln:
        pre = F.substring(url_b, 1, ln)
        lcp_lit = F.lit(bytearray(lcp))
        pc = (
            F.when(pre == lcp_lit, F.lit(0))
            .when(pre < lcp_lit, F.lit(-1))
            .otherwise(F.lit(1))
        )
    else:
        pc = F.lit(0)
    # left-aligned zero-pad to exactly 7 bytes keeps numeric order ==
    # byte order ("az" vs "b": 0x617A00.. < 0x620000..)
    uk_b = F.substring(
        F.concat(F.substring(url_b, ln + 1, 7), F.lit(bytearray(7))), 1, 7
    )
    uk = F.conv(F.hex(uk_b), 16, 10).cast("long")
    packed = (pc.cast("long") + F.lit(1)) * F.lit(_PC_SHIFT) + uk
    # null url sorts first (ASC NULLS FIRST): below every packed value
    return F.when(F.col("url").isNull(), F.lit(-1)).otherwise(packed)


_KEY_COLS = ("_kp", "_kt", "_ku")


def _py_ku(url, lcp: bytes) -> int:
    if url is None:
        return -1
    b = url.encode("utf-8")
    ln = len(lcp)
    if b[:ln] == lcp:
        pc = 0
    elif b[:ln] < lcp:
        pc = -1
    else:
        pc = 1
    uk = int.from_bytes((b[ln:ln + 7] + b"\x00" * 7)[:7], "big")
    return (pc + 1) * _PC_SHIFT + uk


class HostBounds:
    """Per-HOT-HOST bucket boundaries: ``hosts`` maps a hot host to
    (url common prefix of its samples, sorted numeric (kp, kt, ku)
    boundary keys). Only hosts whose sampled share exceeds a bucket's
    worth of rows appear — every other host needs no splitting, pays
    no key computation, and takes the trivial bucket-0 path. Falsy
    when sampling found no host worth splitting.

    Exactness does NOT require the sampled lcp to be a true common
    prefix of ALL the host's urls: a row whose url diverges from lcp
    before len(lcp) packs pc=-1 (or +1), which sorts below (above)
    EVERY boundary key of that host — boundaries are sampled urls, so
    their pc is always 0 and their packed ku lies strictly between
    the pc bands. Such rows collapse into the host's first (last)
    bucket together, which is a monotone coarsening, never a
    reorder."""

    __slots__ = ("hosts",)

    def __init__(self, hosts: dict):
        self.hosts = hosts

    def __len__(self) -> int:
        return sum(len(keys) for _, keys in self.hosts.values())

    def __bool__(self) -> bool:
        return bool(self.hosts)


def _after_key(key: tuple) -> Column:
    """Row (by its _kp/_kt/_ku key columns) strictly after ``key`` in
    the schedule order — 5 primitive comparisons against numeric
    literals, no string compares, no null branches (keys are
    never-null by construction). Generated-code size per bound is a
    first-order concern: the r5 string-literal probe was ~50x bigger
    per bound and ran at 6+ s per 22M-row pass (cost LINEAR in bound
    count — icache-bound, not comparison-bound); this probe is cheap
    enough that 128 bounds cost well under a second."""
    kp, kt, ku = key
    c_kp, c_kt, c_ku = (F.col(c) for c in _KEY_COLS)
    return (c_kp > kp) | (
        (c_kp == kp)
        & ((c_kt > kt) | ((c_kt == kt) & (c_ku > ku)))
    )


def _search_tree(keys: list) -> Column:
    """Bucket index = number of boundary keys strictly before the
    row, via an unrolled binary search (depth log2 |bounds|) over
    numeric literals. Order-consistent BY CONSTRUCTION: the key
    triple is a monotone coarsening of the within-host schedule
    order, so the bucket is a monotone non-decreasing function of
    the row's position, and rows that tie on the full order tuple
    always share a bucket — the two properties per-bucket ranking +
    rank composition need for exact global ranks. Key coarsening
    (7-byte url window) at worst merges buckets, which costs
    balance, never correctness."""

    def rec(lo: int, hi: int) -> Column:
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            _after_key(keys[mid]), rec(mid + 1, hi)
        ).otherwise(rec(lo, mid))

    return rec(0, len(keys))


def _bucket_of(bounds: HostBounds, host_col: str = "host") -> Column:
    """Hot-host-gated bucket probe: a short when-chain on the host
    string dispatches to that host's binary-search tree; every other
    row takes bucket 0 after |hot| equality compares. Measured
    rationale (BENCH.md r5): a single global tree's generated code is
    O(total bounds) and its cost was LINEAR in bound count
    (icache-bound — 31/63/127 bounds ran 2.05/2.68/6.23 s over 22.5M
    rows), dwarfing the log-depth comparison work. Gating confines
    tree evaluation to the skewed hosts' rows (~10% in the north
    rule's shape), and per-host trees need only ceil(share x
    n_buckets) bounds each, so generated code stays small."""
    expr = F.lit(0)
    for host, (_lcp, keys) in bounds.hosts.items():
        expr = F.when(F.col(host_col) == host, _search_tree(keys)).otherwise(
            expr
        )
    return expr


def sample_order_bounds(
    source: DataFrame,
    n_buckets: int,
    approx_count: int | None = None,
    samples_per_bucket: int = 64,
    max_samples: int = 65536,
    host_col: str = "host",
    max_hot_hosts: int = 64,
) -> HostBounds:
    """Sample ``source`` and return per-HOT-HOST boundary keys on the
    schedule order. A host is hot when its sampled share exceeds two
    buckets' worth (2/n_buckets of the samples) — below that it fits
    a single per-host sort task and splitting it buys nothing. Each
    hot host gets ~ceil(share x n_buckets) boundaries drawn evenly
    from ITS OWN sorted samples (the RangePartitioner idea applied
    within the host): skew-balance comes from the data itself, and
    the hottest host — the north rule's registered domain — gets the
    most splits.

    ``source`` may be ANY superset or proxy of the frontier with the
    order columns (e.g. the raw frontier table before the seen
    anti-join): boundaries only steer load balance, never results, so
    sampling the cheap pre-join scan avoids re-running upstream joins.
    ``approx_count`` (when the caller tracks frontier size, as the
    driver's flow counters do) skips the sizing count().

    kp/kt are computed JVM-side with the same expressions the probe
    uses on rows (no Python datetime/timezone round-trip to disagree
    with ``unix_micros``); ku needs each host's sampled-url common
    prefix, so it is packed driver-side by the same layout
    ``_ku_expr`` emits."""
    n = approx_count if approx_count is not None else source.count()
    if n <= 0 or n_buckets <= 1:
        return HostBounds({})
    target = min(max_samples, n_buckets * samples_per_bucket)
    frac = min(1.0, 1.25 * target / n)
    rows = (
        source.select(
            F.col(host_col), _kp_expr().alias("kp"), _kt_expr().alias("kt"),
            "url",
        )
        .sample(False, frac, seed=_SAMPLE_SEED)
        .limit(4 * max_samples)
        .collect()
    )
    if len(rows) < 2:
        return HostBounds({})
    import os as _os

    by_host: dict = {}
    for r in rows:
        if r[0] is not None:
            by_host.setdefault(r[0], []).append((r[1], r[2], r[3]))
    threshold = max(8, (2 * len(rows)) // n_buckets)
    hot = sorted(
        ((h, s) for h, s in by_host.items() if len(s) >= threshold),
        key=lambda kv: -len(kv[1]),
    )[:max_hot_hosts]
    hosts = {}
    for h, samples in hot:
        lcp = _os.path.commonprefix(
            [(u or "").encode("utf-8") for _, _, u in samples if u is not None]
        )
        keyed = sorted((kp, kt, _py_ku(u, lcp)) for kp, kt, u in samples)
        n_b = min(
            max(2, round(len(samples) * n_buckets / len(rows))),
            max(1, len(keyed) // 2),
        )
        keys, last = [], None
        for i in range(1, n_b):
            k = keyed[i * len(keyed) // n_b]
            if k != last:
                keys.append(k)
                last = k
        if keys:
            hosts[h] = (lcp, keys)
    return HostBounds(hosts)


def default_n_buckets(spark) -> int:
    """Bucket budget for the distributed rank: 4x the shuffle
    partition count, clamped — enough to split a hot host across
    every reducer with headroom, bounded so per-host probe trees
    stay small."""
    sp = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(8, min(512, 4 * sp))


def rank_frontier_distributed(
    base: DataFrame,
    bounds: HostBounds,
    host_col: str = "host",
    budget_col: str | None = None,
) -> DataFrame:
    """EXACT per-host row_number with NO serial per-host STRING sort
    (the r4 scaling diagnosis: a hot registered domain owning 10% of
    the frontier made the final window one ~17 s task at every
    parallelism level — an Amdahl serial term identical on any
    cluster size; BENCH.md r4).

    Two chained windows:

    1. ``_bkt`` = order-consistent bucket from the hot-host-gated
       numeric binary search (codegen; within every host, bucket
       order refines the schedule order, and full-order ties share a
       bucket). ``_lr`` = row_number per (host, bucket): MANY
       parallel bounded sorts carry the expensive string ordering.
    2. rank = row_number per host ordered by (_bkt ASC, _lr ASC) —
       equal to the single-window rank because bucket order refines
       the true order and _lr is exact within each bucket. The hot
       host is still one task here, but its sort key is TWO INTS:
       the measured ~17 s hot-host string sort becomes a sub-second
       numeric sort, leaving only the single-reducer shuffle read as
       the residual serial term (bytes-bound, not compare-bound).

    Why not offsets-via-aggregation (rank = _lr + cumulative bucket
    counts, killing pass 2 entirely)? It needs the exchanged data
    consumed twice; Catalyst prunes each consumer's columns into its
    own copy of the exchange, so the upstream plan (the seen
    anti-join — the most expensive wave stage) runs twice (measured),
    and pinning one exchange via persist() costs more in columnar
    cache build than the pass it saves (also measured, BENCH.md r5).
    Two thin windows over one upstream run win on every shape tried.

    With ``budget_col`` set, pass-1 ranks > budget are dropped before
    the second shuffle (a row's global rank is >= its bucket rank):
    in the politeness shape (pending >> budget) pass 2 moves
    O(buckets x budget) rows per host, not the whole pending set.
    The final exact cutoff is rank <= budget.

    Empty ``bounds`` (no host hot enough to split) degrades to ONE
    plain per-host window — correct, and the second shuffle is
    skipped entirely."""
    if not bounds:
        w = Window.partitionBy(host_col).orderBy(*_order_cols())
        r = base.withColumn("rank", F.row_number().over(w))
        if budget_col is not None:
            r = r.where(F.col("rank") <= F.col(budget_col))
        return r
    # numeric key columns computed ONCE per row; the probe's
    # binary-search trees reference only these (CollapseProject
    # keeps the expensive exprs un-duplicated: each is referenced
    # many times by the trees, so Catalyst leaves the projection).
    # All three are hot-host-gated when-chains: a cold row (~90% in
    # the north-rule shape) pays |hot| host-string compares and a
    # literal, never the url byte packing — measured 1.03 s over
    # 22.5M rows ungated, and the probe itself 4.4 s ungated vs
    # sub-second gated (BENCH.md r5).
    ku = F.lit(-1).cast("long")
    for host, (lcp, _keys) in bounds.hosts.items():
        ku = F.when(F.col(host_col) == host, _ku_expr(lcp)).otherwise(ku)
    keyed = base.withColumns(
        {"_kp": _kp_expr(), "_kt": _kt_expr(), "_ku": ku}
    ).withColumn("_bkt", _bucket_of(bounds, host_col))
    # Pass-1 sort leads with the numeric keys (VERDICT r4 fix path
    # (b)): within a (host, _bkt) partition _kp/_kt are exact monotone
    # maps of the first two order columns and _ku is a monotone
    # coarsening of url ASC (or the constant -1 for cold hosts), so
    # prepending them cannot reorder anything — the full original
    # order columns follow as the exact tiebreak. Effect: the hot
    # host's comparisons resolve on three longs instead of walking
    # the ~26-byte shared url prefix every time.
    w1 = Window.partitionBy(host_col, "_bkt").orderBy(
        F.asc("_kp"), F.asc("_kt"), F.asc("_ku"), *_order_cols()
    )
    pre = keyed.withColumn("_lr", F.row_number().over(w1)).drop(*_KEY_COLS)
    if budget_col is not None:
        pre = pre.where(F.col("_lr") <= F.col(budget_col))
    w2 = Window.partitionBy(host_col).orderBy(
        F.asc("_bkt"), F.asc("_lr")
    )
    r = pre.withColumn("rank", F.row_number().over(w2))
    if budget_col is not None:
        r = r.where(F.col("rank") <= F.col(budget_col))
    return r.drop("_bkt", "_lr")


def _order_cols():
    return (
        F.desc_nulls_last("priority"),
        F.asc_nulls_first("last_fetch_ts"),
        F.asc("url"),
    )


def schedule_wave(
    frontier: DataFrame,
    host_budgets: DataFrame,
    wave_period: float,
    throttle: Throttle = Throttle(),
    max_urls_per_wave: int | None = None,
    host_col: str = "host",
    strategy: str = "distributed",
    bounds: "HostBounds | None" = None,
) -> DataFrame:
    """Select this wave's URLs: rank per host, cut at the politeness
    budget, optionally cap the global wave size (the page_buffer /
    memory bound analogue, config.rs:53-55).

    host_budgets: (host, crawl_delay[, backoff_k]) — per-host; joined
    broadcast (host cardinality << frontier cardinality at any scale).
    An optional ``backoff_k`` column halves the host's budget k times
    (floored at 1) — the driver's adaptive error backoff: hosts that
    erred in recent waves get exponentially less of each wave.
    frontier must have (url, host, priority, last_fetch_ts).

    Skew (the north rule's hot registered domain): a naive per-host
    window makes a hot domain's rank ONE task — a serial sort that
    caps scaling at any cluster size (measured: 0.45 stage efficiency
    8->32 cores, BENCH.md r4). ``strategy`` picks the rank:

    - "distributed" (default) with ``bounds`` (sample_order_bounds
      boundary tuples on the order key, sampled from the frontier or
      any cheap superset scan, e.g. the frontier table before the
      seen anti-join): rank_frontier_distributed — one full shuffle
      with hot hosts bucketed into bounded parallel sorts, a cheap
      numeric re-rank, and an exact pre-shuffle budget cut. Exact for
      any priority / timestamp / url values (the bucket key is a
      monotone coarsening; ties merge buckets, never reorder).
      Boundaries only steer balance, never results, so ``bounds`` may
      be sampled on an earlier wave (the driver resamples every K
      waves): stale bounds at worst unbalance the hot host's buckets.
    - no ``bounds``, or any other strategy (e.g. "two_phase"): the
      exact reference — one plain per-host ``row_number`` window over
      the schedule order, cut at the budget (rank_frontier_distributed
      with no bounds). Each host sorts in one task; tests and the
      benchmark compare the distributed rank against it.

    Both produce byte-identical schedules (golden tests pin it).
    """
    budget = politeness_budget(F.col("crawl_delay"), wave_period, throttle)
    has_backoff = "backoff_k" in host_budgets.columns
    dim_cols = [host_col, "crawl_delay"] + (["backoff_k"] if has_backoff else [])
    base = frontier.join(
        F.broadcast(host_budgets.select(*dim_cols)),
        host_col,
        "left",
    ).withColumn("_budget", budget)
    if has_backoff:
        # halve k times; expr because shiftright needs a literal count
        base = base.withColumn(
            "_budget",
            F.expr(
                "CAST(GREATEST(1, _budget DIV CAST(POW(2, "
                "COALESCE(backoff_k, 0)) AS INT)) AS INT)"
            ),
        ).drop("backoff_k")

    if bounds is None or strategy != "distributed":
        bounds = HostBounds({})
    picked = rank_frontier_distributed(
        base, bounds, host_col=host_col, budget_col="_budget"
    ).drop("crawl_delay", "_budget")
    if max_urls_per_wave is not None:
        # deterministic global cap: favor low rank (fair across
        # hosts), url tiebreak. orderBy+limit compiles to a
        # distributed TakeOrdered — never a single-partition window.
        picked = picked.orderBy(F.asc("rank"), F.asc("url")).limit(
            max_urls_per_wave
        )
    return picked


def salted_repartition(
    df: DataFrame,
    num_partitions: int,
    salt_buckets: int = 8,
    host_col: str = "host",
    url_col: str = "url",
) -> DataFrame:
    """Skew-aware placement: repartition on (host, salt) so a hot
    registered domain spreads over ``salt_buckets`` partitions instead
    of pinning one executor (north rule). Budgets are already
    enforced by rank, so salting is placement-only and cannot change
    which URLs run (SURVEY.md §7 risk 4)."""
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    return df.repartition(num_partitions, F.col(host_col), salt)
