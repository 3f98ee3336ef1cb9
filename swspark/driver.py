"""Batch-wave crawl driver.

Reimagines the reference's concurrent pipeline
(crawl_site, crawler.rs:216-441: crawler ∥ downloader ∥ scrape workers
∥ CSV writer, quiescence watchdog) as a **driver-sequenced wave DAG**
(SURVEY.md §1.3, §3.1). ``crawl`` is a short loop over stage
functions sharing one ``CrawlRun``:

    open_crawl       resume-reconcile the warehouse, or seed it
                     (seeds -> sitemap expansion A21 -> robots filter)
    per wave:
      wave_frontier  committed op log ⊳ bucketed base + resurrection
      wave_budgets   per-host robots crawl delay + error backoff
      schedule       window-rank under politeness budgets (A23-A25),
                     salted placement; cached and counted
      idle_wave      nothing schedulable: commit the resurrection,
                     stop at quiescence (A28) or wait for an expiry
      fetch_extract  frontier |x| pages (A1) -> Arrow UDF: records +
                     sendUrl discovery (A32/A22), persisted, once a page;
                     the sendUrl edges counted on the cache
      commit_outputs records, errors
      commit_seen    seen delta = the wave's schedule log (A30 flush)
      commit_frontier sendUrl targets past robots + the exact seen
                     anti-joins -> frontier
                     op-log delta; every K waves seen and frontier
                     compact into bucketed bases
    until the schedulable frontier is empty or a wave budget is hit.

Invariants:
- one frontier path: a live wave schedules from exactly the frontier
  resume rebuilds (both fold the committed state), so no wave's plan
  carries an earlier wave's lineage;
- no URL is fetched twice across waves/resume (engine-introduced
  seen-set; the reference lacks one — SURVEY.md §2 Part B);
- scheduling order is deterministic: (priority DESC, last_fetch_ts
  ASC, url ASC) per host, budget = f(wave_period, crawl_delay);
- every wave commit is atomic; resume from CURRENT reproduces the
  uninterrupted run byte-for-byte (tested).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from swspark import urlnorm
from swspark.extract.specs import SPECS, ExtractionSpec
from swspark.extract.udf import (
    apply_extraction,
    spec_wants_context,
    with_extraction,
)
from swspark.fetch import fetch_pages
from swspark.robots import build_robots_rules_table, robots_filter_distributed
from swspark.scheduler import Throttle, salted_repartition, schedule_wave
from swspark.seen import filter_new_urls, with_url_identity
from swspark.sitemaps import expand_sitemaps
from swspark.tables import SnapshotTable

FRONTIER_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("url_canon", StringType()),
        StructField("url_hash", LongType()),
        StructField("host", StringType()),
        StructField("priority", IntegerType()),
        StructField("last_fetch_ts", TimestampType()),
        StructField("discovered_wave", IntegerType()),
    ]
)
_FRONTIER_KEYS = ["url_hash", "url_canon"]

# salted placement: a hot registered domain's scheduled rows spread
# over this many partitions (scheduler.salted_repartition)
SALT_BUCKETS = 8
# resample the distributed rank's hot-host bucket boundaries every K
# waves (boundaries only steer balance, never results — a stale sample
# at worst unbalances the hot host's buckets for K-1 waves, so the
# steady-state wave skips the frontier-wide sampling scan)
RESAMPLE_BOUNDS_WAVES = 8
# snapshots retained at expiry after each compaction (>=2 keeps the
# pre-compaction snapshot for time travel)
SNAPSHOT_KEEP_LAST = 2
# hash buckets of the compacted seen + frontier snapshots
N_STORAGE_BUCKETS = 32
# perfbench's --trace 1 rebinds this name (its trace reads it from this
# module's __dict__); nothing calls it. Benchmark v2 removes it.
build_filter_shards = None


@dataclass
class CrawlConfig:
    """Engine knobs (reference: CrawlerConfig, config.rs:6-47; CLI >
    Lua > defaults precedence becomes plain Python kwargs)."""

    spec: str | ExtractionSpec = "fulltext"
    user_agent: str = "SWSbot"
    wave_period: float = 10.0
    throttle: Throttle = field(default_factory=Throttle)
    max_waves: int = 100
    max_urls_per_wave: int | None = None
    # state-table layout: every K waves the seen + frontier tables are
    # compacted into ONE hash-bucketed snapshot (bucket keys = the
    # join keys, N_STORAGE_BUCKETS buckets), so (a) the per-wave
    # frontier commit is a wave-sized DELTA, never an O(|frontier|)
    # rewrite, and (b) the discovery anti-join reads the accumulated
    # base WITHOUT shuffling it
    compact_every_waves: int = 8
    on_dl_error: str = "skip"  # OnError::{Fail, SkipAndLog} (config.rs:81-86)
    on_xml_error: str = "skip"
    on_scrap_error: str = "skip"
    # recrawl aging: a URL fetched in wave w becomes schedulable again
    # in wave w + recrawl_after_waves (None = fetch-once, the
    # reference's semantics). Resurrected rows carry a synthetic
    # last_fetch_ts = fetch_wave * wave_period so never-fetched URLs
    # (NULLS FIRST) and older fetches schedule ahead of fresher ones.
    recrawl_after_waves: int | None = None
    # adaptive error backoff: a host with download errors in any of
    # the last N waves gets its budget halved per error-wave (capped
    # at /16, floored at 1). None = off.
    error_backoff_window: int | None = None


class CrawlState:
    """Warehouse handles: one SnapshotTable per state relation."""

    def __init__(self, warehouse: str):
        self.frontier = SnapshotTable(os.path.join(warehouse, "frontier"))
        self.seen = SnapshotTable(os.path.join(warehouse, "seen"))
        self.records = SnapshotTable(os.path.join(warehouse, "records"))
        self.errors = SnapshotTable(os.path.join(warehouse, "errors"))
        # perfbench's crawl_news check reads ``state.trace``; the crawl
        # trace is ``seen``. Benchmark v2 deletes this alias.
        self.trace = self.seen


@dataclass
class CrawlRun:
    """One ``crawl`` call's state, shared by its stages: the warehouse,
    the robots rules table, the wave index, the wave's caches and the
    running totals."""

    spark: SparkSession
    config: CrawlConfig
    state: CrawlState
    # distributed robots: (host, crawl_delay, sitemaps, rules) by host
    rules_table: DataFrame
    wave: int = 0
    rank_bounds: object = None  # hot-host bucket boundaries
    n_schedules: int = 0  # schedule() calls: the bounds resample every K
    # the wave's caches: a raising wave (a fail policy) leaves them to
    # crawl's finally
    caches: list[DataFrame] = field(default_factory=list)
    totals: dict = field(default_factory=lambda: dict.fromkeys(
        ("waves", "fetched", "records", "discovered", "errors", "seen"), 0
    ))

    def __post_init__(self) -> None:
        c = self.config
        self.spec = c.spec if isinstance(c.spec, ExtractionSpec) else SPECS[c.spec]
        # state-table layout: bucket keys ARE the join keys, so the
        # discovery anti-join and resume reconstruction stream the
        # compacted base straight from its bucket files (no shuffle)
        self.key_bucket = {"by": _FRONTIER_KEYS, "n": N_STORAGE_BUCKETS,
                           "sort": _FRONTIER_KEYS}

    @property
    def compaction_due(self) -> bool:
        return (self.wave + 1) % self.config.compact_every_waves == 0


def _frontier_rows(df: DataFrame, wave: int, last_fetch_ts=None) -> DataFrame:
    """Normalize a (url) DataFrame into frontier schema rows, one per
    canonical URL with its least raw form, whatever the input order
    (the fetch joins pages on the raw string); a resurrected row
    carries its synthetic ``last_fetch_ts`` column."""
    if last_fetch_ts is None:
        last_fetch_ts = F.lit(None).cast("timestamp")
    keys = with_url_identity(df.select("url")).groupBy(*_FRONTIER_KEYS)
    return keys.agg(F.min("url").alias("url")).select(
        "url", "url_canon", "url_hash",
        urlnorm.url_host(F.col("url")).alias("host"),
        F.lit(0).alias("priority"),
        last_fetch_ts.alias("last_fetch_ts"),
        F.lit(wave).alias("discovered_wave"),
    )


def init_frontier(spark: SparkSession, config: CrawlConfig, seeds: DataFrame,
                  sitemaps: DataFrame, rules_table: DataFrame, accept=None):
    """Seed resolution (scraper.rs:106-117: exactly one seed kind) +
    sitemap expansion into the wave-0 frontier. ``rules_table`` is the
    distributed robots table (host, crawl_delay, sitemaps, rules).
    Returns (frontier rows, sitemap errors, cleanup)."""
    kinds = [r.seed_kind for r in seeds.select("seed_kind").distinct().collect()]
    if len(kinds) != 1:
        raise ValueError(f"exactly one seed kind required, got {kinds}")
    kind = kinds[0]

    if kind == "PAGES":
        no_errors = seeds.limit(0).select(
            F.col("seed").alias("sitemap_url"), F.lit("").alias("error")
        )
        frontier_urls = seeds.select(F.col("seed").alias("url"))
        return _frontier_rows(frontier_urls, wave=0), no_errors, lambda: None
    if kind == "SITEMAPS":
        seed_sm = seeds.select(F.col("seed").alias("sitemap_url"))
    elif kind == "ROBOTS_TXT":
        hosts = seeds.select(
            urlnorm.url_host(F.col("seed")).alias("host")
        ).distinct()
        # crawler.rs:347-365 — sitemaps declared in robots.txt; a
        # distributed semi-join + explode, nothing parsed on the driver
        seed_sm = (
            hosts.join(rules_table.select("host", "sitemaps"), "host", "left")
            .select(F.explode_outer("sitemaps").alias("sitemap_url"))
            .where(F.col("sitemap_url").isNotNull())
            .distinct()
        )
    else:
        raise ValueError(f"unknown seed kind {kind!r}")
    res = expand_sitemaps(
        spark, seed_sm, sitemaps, accept=accept,
        on_xml_error=config.on_xml_error, rules_table=rules_table,
    )
    return _frontier_rows(res.frontier.select("url"), wave=0), res.errors, res.cleanup


def crawl(
    spark: SparkSession,
    config: CrawlConfig,
    warehouse: str,
    seeds: DataFrame,
    sitemaps: DataFrame,
    robots: DataFrame,
    pages: DataFrame,
    accept=None,
    resume: bool = False,
) -> dict:
    """Run the wave loop (the stages in the module docstring). State
    lives in ``warehouse`` (snapshot tables) and is resumable.

    Returns this call's totals: ``waves`` (fetch waves), ``fetched``
    pages, and the ``records``, ``discovered``, ``errors`` and ``seen``
    rows its waves committed. Each comes from the waves' own counts
    (commit lineage, the schedule count), never from a table scan, so
    a resumed crawl counts only the waves it ran."""
    # distributed robots: rules stay a by-host DataFrame, matching runs
    # in a pandas UDF over the joined rules column — no driver collect
    rules_table = build_robots_rules_table(robots, config.user_agent).persist()
    run = CrawlRun(spark, config, CrawlState(warehouse), rules_table)
    try:
        open_crawl(run, seeds, sitemaps, accept, resume)
        while run.wave < config.max_waves:
            frontier, resurrected = wave_frontier(run)
            scheduled, n_sched = schedule(run, frontier, wave_budgets(run))
            if n_sched == 0:
                if idle_wave(run, resurrected):
                    break
                continue
            rec, disc, errs, obs = fetch_extract(run, scheduled, pages)
            n_errors = commit_outputs(run, rec, errs)
            seen_delta = commit_seen(run, scheduled)
            commit_frontier(run, disc, seen_delta, resurrected,
                            {"scheduled": n_sched, "errors": n_errors}, obs)
            _release(run.caches)
    finally:
        _release(run.caches)
        rules_table.unpersist()
    return run.totals


def _release(caches: list[DataFrame]) -> None:
    while caches:
        caches.pop().unpersist()


def open_crawl(run: CrawlRun, seeds: DataFrame, sitemaps: DataFrame,
               accept, resume: bool) -> None:
    """Stage open: a resumed crawl rolls every table back to the
    frontier's committed ``next_wave``; a fresh one commits the seeded
    frontier and the sitemap errors."""
    spark, state = run.spark, run.state
    if resume and state.frontier.exists():
        run.wave = state.frontier.manifest()["lineage"]["next_wave"]
        # cross-table reconciliation: a crash between a wave's table
        # commits and the frontier pointer leaves orphan wave>=next
        # snapshots that the replayed wave would double-append
        for tbl in (state.records, state.errors, state.seen):
            tbl.rollback_to_wave_before(run.wave)
        return
    # the spec's acceptUrl always gates sitemap URLs, like
    # `sws crawl -s script.lua` (crawler.rs:92-96,123-125)
    frontier, xml_errors, expand_cleanup = init_frontier(
        spark, run.config, seeds, sitemaps, run.rules_table,
        run.spec.accept_url if accept is None else accept,
    )
    try:
        # the seeded frontier IS the first compacted base (bucketed):
        # every wave's frontier fold anchors on it until a compaction
        state.frontier.commit(
            robots_filter_distributed(frontier, run.rules_table),
            mode="overwrite", bucket=run.key_bucket,
            lineage={"next_wave": 0, "phase": "seeded", "compacted_through": -1},
        )
        state.errors.commit(xml_errors.select(
            F.lit(-1).alias("wave"), F.col("sitemap_url").alias("url"),
            F.lit("xml").alias("stage"), "error",
        ), mode="overwrite")
    finally:
        expand_cleanup()  # the expansion's parse caches


def wave_frontier(run: CrawlRun) -> tuple[DataFrame, DataFrame | None]:
    """Stage frontier: the committed frontier (bucketed base ⊳ op log:
    one base scan plus one op-log scan whatever the wave index) with
    this wave's resurrected rows. Returns (frontier, resurrected)."""
    spark, wave = run.spark, run.wave
    frontier = _reconstruct_frontier(spark, run.state.frontier)
    ttl = run.config.recrawl_after_waves
    if ttl is None or wave < ttl:
        return frontier, None
    # resurrection: rows fetched exactly ttl waves ago age out of the
    # seen set's "fresh" window and rejoin the frontier (each seen row
    # expires exactly once; a refetch appends a new seen row, so the
    # cycle repeats every ttl waves). frontier ∩ resurrected = ∅: a
    # pending URL has no fresh seen row, so it cannot be expiring now.
    # read_wave_range prunes the read to wave w-ttl's own data dirs (or
    # the base's wave=w-ttl partition) — never a full scan
    expired = run.state.seen.read_wave_range(spark, wave - ttl, wave - ttl + 1)
    if expired is None:
        return frontier, None
    # resurrect the RAW url (seen carries it for exactly this):
    # fetch_pages joins the pages source on the exact string, so a
    # canonical-form resurrection would silently miss any URL whose raw
    # form differs (uppercase host, :80, fragment)
    fetched_at = F.lit(float((wave - ttl) * run.config.wave_period))
    resurrected = _frontier_rows(
        expired, wave, last_fetch_ts=F.timestamp_seconds(fetched_at)
    )
    return frontier.unionByName(resurrected), resurrected


def wave_budgets(run: CrawlRun) -> DataFrame:
    """Stage budgets: the per-host budget inputs (host, crawl_delay
    [, backoff_k]) — the robots crawl delay and, with
    ``error_backoff_window``, the number of recent error waves."""
    budgets = run.rules_table.select(F.col("host"), "crawl_delay")
    window = run.config.error_backoff_window
    if window is None or not run.state.errors.exists():
        return budgets
    # hosts that erred recently yield budget (AIMD-style): k =
    # #error-waves in the window, budget -> budget / 2^k.
    # read_wave_range prunes the read to the window's data dirs via
    # commit lineage, never a whole-table glob
    err_window = run.state.errors.read_wave_range(run.spark, run.wave - window, run.wave)
    if err_window is None:
        return budgets
    err_hosts = (
        err_window.where(F.col("stage") == "download")
        .select(urlnorm.url_host(F.col("url")).alias("host"), "wave")
        .distinct()
        .groupBy("host")
        .agg(F.least(F.count(F.lit(1)), F.lit(4)).cast("int").alias("backoff_k"))
    )
    # full outer: hosts with errors but no robots entry still back off
    return budgets.join(err_hosts, "host", "full")


def schedule(run: CrawlRun, frontier: DataFrame, budgets: DataFrame):
    """Stage schedule: per-host rank under the budgets, then salted
    placement; cached (every later stage reads it) and counted.
    Returns (scheduled, its row count)."""
    c = run.config
    if run.n_schedules % RESAMPLE_BOUNDS_WAVES == 0:
        from swspark.scheduler import default_n_buckets, sample_order_bounds

        run.rank_bounds = sample_order_bounds(frontier, default_n_buckets(run.spark))
    run.n_schedules += 1
    scheduled = schedule_wave(frontier, budgets, c.wave_period, c.throttle,
                              c.max_urls_per_wave, bounds=run.rank_bounds)
    scheduled = salted_repartition(
        scheduled, run.spark.sparkContext.defaultParallelism, SALT_BUCKETS
    ).cache()
    run.caches.append(scheduled)
    return scheduled, scheduled.count()


def idle_wave(run: CrawlRun, resurrected: DataFrame | None) -> bool:
    """Stage idle wave: nothing was schedulable. Commits the wave's
    resurrected rows; returns True when the crawl is done, else
    advances to the next wave."""
    _release(run.caches)
    wave, ttl, state = run.wave, run.config.recrawl_after_waves, run.state
    if resurrected is not None:
        # an idle (fully-throttled) wave still changed the frontier:
        # commit the resurrected rows as add-only op-log deltas, or the
        # next wave's fold (and any resume) would miss them (the expiry
        # read consults wave w-ttl exactly once)
        state.frontier.commit(
            _frontier_delta(None, None, resurrected, wave), mode="append",
            lineage={"next_wave": wave + 1, "wave": wave, "scheduled": 0},
        )
    if ttl is None:
        return True  # quiescence (A28)
    # last fetch wave straight from commit lineage — no scan
    last = state.seen.manifest()["lineage"].get("wave") if state.seen.exists() else None
    if last is None or wave >= last + ttl:
        return True  # nothing pending and nothing left to expire
    run.wave += 1  # idle wave: wall-clock passes until next expiry
    return False


def fetch_extract(run: CrawlRun, scheduled: DataFrame, pages: DataFrame):
    """Stage fetch and extract: join the scheduled URLs to the pages
    and extract them once (persisted: the records, errors and frontier
    commits all read this cache, and its first action counts the
    sendUrl edges). Returns (records, discovered, errors labelled by
    stage, the fetch and edge-count observations)."""
    wave = run.wave
    fetched, dl_errs, obs = fetch_pages(scheduled, pages, on_dl_error=run.config.on_dl_error)
    if spec_wants_context(run.spec):
        # ctx.robot() support: ride the host's rules-as-data onto the
        # pages (broadcast-joined; same table politeness uses)
        fetched = fetched.join(run.rules_table.select("host", "rules"), "host", "left")
    # an error row's null urls array counts 0, whatever sizeOfNull says
    n_edges = F.sum(F.when(F.col("_ex.urls").isNotNull(), F.size("_ex.urls")))
    edge_obs = Observation()
    extracted = with_extraction(fetched, run.spec).drop("html").observe(
        edge_obs, F.coalesce(n_edges, F.lit(0)).alias("discovered")).persist()
    run.caches.append(extracted)
    rec, disc, scrap_errs = apply_extraction(extracted, run.spec)
    # download errors raise in fetch_pages under on_dl_error="fail"
    if run.config.on_scrap_error == "fail":
        n = scrap_errs.count()
        if n:
            raise RuntimeError(f"wave {wave}: {n} scrape errors (on_scrap_error=fail)")
    errs = dl_errs.select(
        F.lit(wave).alias("wave"), "url", F.lit("download").alias("stage"), "error"
    ).unionByName(scrap_errs.select(
        F.lit(wave).alias("wave"), "url", F.lit("scrape").alias("stage"), "error"
    ))
    return rec.withColumn("wave", F.lit(wave)), disc, errs, (obs, edge_obs)


def commit_outputs(run: CrawlRun, rec: DataFrame, errs: DataFrame) -> int:
    """Stage commit outputs: the wave's records and errors, each
    counted on its write job. Returns the wave's error count."""
    state, wave = run.state, run.wave
    state.records.commit(rec, mode="append", lineage={"wave": wave}, count_rows=True)
    state.errors.commit(errs, mode="append", lineage={"wave": wave}, count_rows=True)
    n_errors = state.errors.manifest()["lineage"]["n_rows"]
    run.totals["records"] += state.records.manifest()["lineage"]["n_rows"]
    run.totals["errors"] += n_errors
    return n_errors


def commit_seen(run: CrawlRun, scheduled: DataFrame) -> DataFrame:
    """Stage commit seen: the wave's schedule log. Attempted URLs count
    as seen (404s are not retried forever, matching "scheduled+fetched"
    accounting), and each row keeps its host and rank, so ``seen`` is
    also the crawl-order trace. Returns the seen delta."""
    spark, c, state, wave = run.spark, run.config, run.state, run.wave
    seen_delta = scheduled.select("url_hash", "url_canon", "url", "host", "rank",
                                  F.lit(wave).alias("wave"))
    state.seen.commit(seen_delta, mode="append", lineage={"wave": wave})
    if run.compaction_due:
        # fold base + K wave deltas into one bucketed snapshot, dir-
        # partitioned by wave so the recrawl-expiry read prunes to one
        # wave's dirs (amortized O(|seen|/K) per wave)
        state.seen.compact(spark, dict(run.key_bucket, partition=["wave"]),
                           lineage={"wave": wave, "compacted_through": wave})
        # retention floor K+2: every post-compaction wave's delta
        # manifest must outlive the next cycle (read_wave_range walks
        # them for recrawl expiry, and crash-rollback needs the
        # previous wave's manifest as its anchor)
        state.seen.expire_snapshots(max(SNAPSHOT_KEEP_LAST, c.compact_every_waves + 2))
    return seen_delta


def commit_frontier(run: CrawlRun, disc: DataFrame, seen_delta: DataFrame,
                    resurrected: DataFrame | None, counts: dict, obs) -> None:
    """Stage commit frontier: the next frontier as a wave-sized op-log
    DELTA (del = scheduled keys, add = new sendUrl targets (A22) +
    resurrected rows), never an O(|frontier|) rewrite; every K waves
    the fold becomes a new bucketed base. A wave that discovered
    nothing runs no robots match and no seen anti-join. ``counts``
    (scheduled, errors) and the observations (pages in and out, the
    sendUrl edge count ``discovered``) go into the lineage. Advances
    the wave."""
    spark, state, wave = run.spark, run.state, run.wave
    m = {k: v for o in obs for k, v in o.get.items()}
    n_disc = m["discovered"]
    disc_new = None  # nothing discovered: no robots match, no anti-join
    if n_disc:
        disc_new = robots_filter_distributed(
            _frontier_rows(disc.select(F.col("discovered_url").alias("url")), wave + 1),
            run.rules_table,
        )
        # split read: a shuffle-free sort-merge anti-join against the
        # bucketed base + broadcast anti-joins against the recent deltas
        disc_new = filter_new_urls(spark, disc_new, state.seen.read_split(spark))
    lineage = {"next_wave": wave + 1, "wave": wave, "scheduled": counts["scheduled"],
               "pages_in": m["pages_in"], "pages_out": m["pages_out"],
               "errors": counts["errors"], "discovered": n_disc,
               "seen_version": state.seen.current_version()}
    state.frontier.commit(_frontier_delta(seen_delta, disc_new, resurrected, wave),
                          mode="append", lineage=lineage)
    if run.compaction_due:
        # every K waves: fold base + K deltas into a fresh bucketed base
        # (amortized O(|frontier|/K) per wave), as seen does
        state.frontier.commit(
            _reconstruct_frontier(spark, state.frontier),
            mode="overwrite", bucket=run.key_bucket,
            lineage=dict(lineage, compacted_through=wave),
        )
        state.frontier.expire_snapshots(SNAPSHOT_KEEP_LAST)
    t = run.totals
    t["waves"] += 1
    t["fetched"] += m["pages_out"]
    t["seen"] += counts["scheduled"]
    t["discovered"] += n_disc
    run.wave += 1


def _frontier_delta(
    seen_delta: DataFrame | None,
    disc_new: DataFrame | None,
    resurrected: DataFrame | None,
    wave: int,
) -> DataFrame:
    """One wave's frontier op-log rows: del = this wave's scheduled
    keys, add = discovered (wave+1) and resurrected (wave) rows. The
    commit is wave-sized; `_reconstruct_frontier` folds the log over
    the bucketed base at the top of every wave.

    CONTRACT: only the _FRONTIER_KEYS columns of ``seen_delta`` are
    read (everything else is projected to NULL); ``None`` for any of
    the three frames contributes no rows, so the idle-wave
    resurrection commit passes no dels and no discoveries."""
    val_fields = [
        f for f in FRONTIER_SCHEMA.fields if f.name not in _FRONTIER_KEYS
    ]
    parts = [
        adds.select(
            *FRONTIER_SCHEMA.fieldNames(),
            F.lit("add").alias("op"),
            F.lit(wave).alias("delta_wave"),
        )
        for adds in (disc_new, resurrected)
        if adds is not None
    ]
    if seen_delta is not None:
        parts.append(seen_delta.select(
            *_FRONTIER_KEYS,
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in val_fields],
            F.lit("del").alias("op"),
            F.lit(wave).alias("delta_wave"),
        ))
    return reduce(DataFrame.unionByName, parts)


def _reconstruct_frontier(spark: SparkSession, table) -> DataFrame:
    """The frontier as committed: the bucketed base with the op log
    since it folded in (fold_frontier_ops). Every wave schedules from
    this read, so the live loop and resume share one path, and its
    plan is one base scan plus one op-log scan at any wave index.
    The seed commit is a bucketed base, so read_split always returns
    [base] or [base, op log]."""
    base, *ops = table.read_split(spark)
    if not ops:
        return base
    # the op log's one shuffle lands it in the base's bucket layout,
    # so the fold's join reads the base as stored
    n = table.manifest(table.base_version())["bucket"]["n"]
    return fold_frontier_ops(
        base, ops[0].repartition(n, *_FRONTIER_KEYS)
    )


def fold_frontier_ops(base: DataFrame, ops: DataFrame) -> DataFrame:
    """Fold a frontier op log over a base (pure DataFrame semantics,
    oracle-checked by the ``frontier_oplog`` entry query):

    - a key's LAST del (max delta_wave over op='del') kills the base
      row and every add with delta_wave <= that del (same-wave
      add+del: del wins — a resurrected row scheduled in its own
      wave is gone);
    - among surviving adds the EARLIEST discovered_wave wins, and a
      base row (never deleted) predates any add ('pending wins').

    Plan shape, pinned by tests/test_plans.py: the op log reduces to
    one row per key (its last del + its earliest surviving add) in a
    single aggregate, which full-outer-joins the base on the keys. An
    op log already hash-partitioned like a bucketed base
    (_reconstruct_frontier) shuffles nothing more, and the base
    streams from its bucket files."""
    val_cols = [
        f.name for f in FRONTIER_SCHEMA.fields if f.name not in _FRONTIER_KEYS
    ]
    is_del = F.col("op") == "del"
    last_del = F.col("last_del")
    per_key = ops.groupBy(*_FRONTIER_KEYS).agg(
        F.max(F.when(is_del, F.col("delta_wave"))).alias("last_del"),
        # discovered_wave leads the struct, so array_min picks the
        # earliest-discovered add
        F.collect_list(F.when(~is_del, F.struct(
            "discovered_wave", "delta_wave",
            *[c for c in val_cols if c != "discovered_wave"],
        ))).alias("adds"),
    ).select(
        *_FRONTIER_KEYS,
        "last_del",
        F.array_min(F.filter(
            "adds", lambda a: last_del.isNull() | (a["delta_wave"] > last_del)
        )).alias("add"),
    )
    merged = base.alias("f").join(per_key.alias("o"), _FRONTIER_KEYS, "full_outer")
    pending_wins = F.col("f.url").isNotNull() & F.col("o.last_del").isNull()
    return merged.select(
        *_FRONTIER_KEYS,
        *[
            F.when(pending_wins, F.col(f"f.{c}")).otherwise(F.col(f"o.add.{c}"))
            .alias(c)
            for c in val_cols
        ],
    ).where(F.col("url").isNotNull()).select(FRONTIER_SCHEMA.fieldNames())
