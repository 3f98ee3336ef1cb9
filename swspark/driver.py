"""Batch-wave crawl driver.

Reimagines the reference's concurrent pipeline
(crawl_site, crawler.rs:216-441: crawler ∥ downloader ∥ scrape workers
∥ CSV writer, quiescence watchdog) as a **driver-sequenced wave DAG**
(SURVEY.md §1.3, §3.1):

    seeds -> expand (A21) ->:  per wave:
        frontier (the committed op log folded over the bucketed base)
        schedule (window-rank under politeness budgets, A23-A25)
        fetch    (frontier |x| pages, A1)
        extract  (Arrow UDF: records + sendUrl discovery, A32/A22;
                  persisted, so it runs once per page)
        commit   (snapshot seen/records + lineage, frontier op-log
                  delta; every K waves a new bucketed base, A30 flush)
    until the schedulable frontier is empty (quiescence, A28) or a
    wave/URL budget is hit.

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

from pyspark.sql import DataFrame, SparkSession
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
from swspark.seen import (
    BloomFilter,
    bloom_geometry,
    build_filter_shards,
    filter_new_urls,
    load_shards,
    with_url_identity,
)
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
    n_seen_buckets: int = 16
    bloom_bits_per_bucket: int = 1 << 20  # fixed-size -> mergeable deltas
    bloom_k: int = 7
    # EXPECTED total frontier cardinality: when set, the Bloom shard
    # geometry is derived from it (seen.bloom_geometry) instead of the
    # fixed default — the fixed 2^20 bits/bucket saturates past ~10^6
    # URLs/bucket and the fast path degrades to 'everything is a
    # suspect' (correct but useless)
    expected_total_urls: int | None = None
    # mmap transport for the Bloom shard bitmaps (cluster-visible dir);
    # None broadcasts the bytes — fine to ~100s of MB, not at 10^10
    bloom_shard_dir: str | None = None
    # state-table layout: every K waves the seen + frontier tables are
    # compacted into ONE hash-bucketed snapshot (bucket keys = the
    # join keys), so (a) the per-wave frontier commit is a wave-sized
    # DELTA, never an O(|frontier|) rewrite, and (b) the discovery
    # anti-join reads the accumulated base WITHOUT shuffling it
    compact_every_waves: int = 8
    n_storage_buckets: int = 32
    # snapshots retained at expiry after each compaction (>=2 keeps
    # the pre-compaction snapshot for time travel; 1 reclaims all)
    snapshot_keep_last: int = 2
    on_dl_error: str = "skip"  # OnError::{Fail, SkipAndLog} (config.rs:81-86)
    on_xml_error: str = "skip"
    on_scrap_error: str = "skip"
    robot_url: str | None = None  # explicit robots override (config.rs:44-46)
    salt_buckets: int = 8
    shuffle_partitions: int | None = None
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
    # resample the distributed rank's hot-host bucket boundaries
    # every K waves (boundaries only steer balance, never results —
    # a stale sample at worst unbalances the hot host's buckets for
    # K-1 waves, so the steady-state wave skips the frontier-wide
    # sampling scan). 1 = resample every wave.
    resample_bounds_waves: int = 8


class CrawlState:
    """Warehouse handles: one SnapshotTable per state relation."""

    def __init__(self, warehouse: str):
        self.frontier = SnapshotTable(os.path.join(warehouse, "frontier"))
        self.seen = SnapshotTable(os.path.join(warehouse, "seen"))
        self.records = SnapshotTable(os.path.join(warehouse, "records"))
        self.trace = SnapshotTable(os.path.join(warehouse, "trace"))
        self.discovered = SnapshotTable(os.path.join(warehouse, "discovered"))
        self.errors = SnapshotTable(os.path.join(warehouse, "errors"))
        # durable Bloom shard deltas (fixed geometry -> OR-mergeable),
        # versioned with the seen table (SURVEY.md §7 risk 3)
        self.shards = SnapshotTable(os.path.join(warehouse, "shards"))


def _frontier_rows(df: DataFrame, wave: int) -> DataFrame:
    """Normalize a (url) DataFrame into frontier schema rows."""
    out = with_url_identity(df.select("url"))
    return (
        out.withColumn("host", urlnorm.url_host(F.col("url")))
        .withColumn("priority", F.lit(0))
        .withColumn("last_fetch_ts", F.lit(None).cast("timestamp"))
        .withColumn("discovered_wave", F.lit(wave))
        .dropDuplicates(["url_canon"])
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    )


def init_frontier(
    spark: SparkSession,
    config: CrawlConfig,
    seeds: DataFrame,
    sitemaps: DataFrame,
    rules_table: DataFrame,
    accept=None,
):
    """Seed resolution (scraper.rs:106-117: exactly one seed kind) +
    sitemap expansion into the wave-0 frontier. ``rules_table`` is the
    distributed robots table (host, crawl_delay, sitemaps, rules)."""
    kinds = [r.seed_kind for r in seeds.select("seed_kind").distinct().collect()]
    if len(kinds) != 1:
        raise ValueError(f"exactly one seed kind required, got {kinds}")
    kind = kinds[0]

    if kind == "ROBOTS_TXT":
        if config.robot_url is not None:
            # crawler.rs:229-231 (tested in tests/validate.rs:3-38)
            raise ValueError("Seed::RobotsTxt conflicts with an explicit robot config")
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
        res = expand_sitemaps(
            spark, seed_sm, sitemaps, accept=accept,
            on_xml_error=config.on_xml_error, rules_table=rules_table,
        )
        frontier_urls = res.frontier.select("url")
        xml_errors = res.errors
        cleanup = res.cleanup
    elif kind == "SITEMAPS":
        seed_sm = seeds.select(F.col("seed").alias("sitemap_url"))
        res = expand_sitemaps(
            spark, seed_sm, sitemaps, accept=accept,
            on_xml_error=config.on_xml_error, rules_table=rules_table,
        )
        frontier_urls = res.frontier.select("url")
        xml_errors = res.errors
        cleanup = res.cleanup
    elif kind == "PAGES":
        frontier_urls = seeds.select(F.col("seed").alias("url"))
        xml_errors = seeds.limit(0).select(
            F.col("seed").alias("sitemap_url"), F.lit("").alias("error")
        )
        cleanup = lambda: None  # noqa: E731
    else:
        raise ValueError(f"unknown seed kind {kind!r}")

    return _frontier_rows(frontier_urls, wave=0), xml_errors, cleanup


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
    """Run the wave loop; returns summary metrics. State lives in
    ``warehouse`` (snapshot tables) and is resumable."""
    state = CrawlState(warehouse)
    spec = config.spec if isinstance(config.spec, ExtractionSpec) else SPECS[config.spec]
    if accept is None:
        # the spec's acceptUrl always gates sitemap URLs, like
        # `sws crawl -s script.lua` (crawler.rs:92-96,123-125)
        accept = spec.accept_url
    # effective Bloom geometry: derived from expected cardinality when
    # given (seen.bloom_geometry), else the fixed test-scale default
    if config.expected_total_urls is not None:
        bloom_bits, bloom_k = bloom_geometry(
            config.expected_total_urls, config.n_seen_buckets
        )
    else:
        bloom_bits, bloom_k = config.bloom_bits_per_bucket, config.bloom_k
    # state-table layout: bucket keys ARE the join keys, so the
    # discovery anti-join and resume reconstruction stream the
    # compacted base straight from its bucket files (no shuffle);
    # the seen base is additionally dir-partitioned by wave so the
    # recrawl-expiry read prunes to one wave's directories
    key_bucket = {
        "by": ["url_hash", "url_canon"],
        "n": config.n_storage_buckets,
        "sort": ["url_hash", "url_canon"],
    }
    seen_bucket = dict(key_bucket, partition=["wave"])

    # distributed robots: rules stay a by-host DataFrame, matching runs
    # in a pandas UDF over the joined rules column — no driver collect
    rules_table = build_robots_rules_table(robots, config.user_agent).persist()

    def robots_filter(df: DataFrame) -> DataFrame:
        return robots_filter_distributed(df, rules_table)

    # the wave's caches: a raising wave (a fail policy) leaves them to
    # the finally below
    scheduled = extracted = delta_shards = None
    try:
        if resume and state.frontier.exists():
            wave = state.frontier.manifest()["lineage"]["next_wave"]
            # cross-table reconciliation: a crash between a wave's table
            # commits and the frontier pointer leaves orphan wave>=next
            # snapshots that the replayed wave would double-append
            for tbl in (state.records, state.trace, state.errors, state.seen,
                        state.shards, state.discovered):
                tbl.rollback_to_wave_before(wave)
            seen_df = (
                state.seen.read(spark)
                if state.seen.exists()
                else spark.createDataFrame(
                    [], "url_hash long, url_canon string, url string, wave int"
                )
            )
            blooms = _rebuild_blooms(spark, state, seen_df, config,
                                     bloom_bits, bloom_k)
        else:
            frontier, xml_errors, expand_cleanup = init_frontier(
                spark, config, seeds, sitemaps, rules_table, accept
            )
            wave = 0
            try:
                # the seeded frontier IS the first compacted base
                # (bucketed): every wave's frontier fold anchors on it
                # until a compaction
                state.frontier.commit(
                    robots_filter(frontier), mode="overwrite",
                    bucket=key_bucket,
                    lineage={"next_wave": 0, "phase": "seeded",
                             "compacted_through": -1},
                )
                if xml_errors is not None:
                    state.errors.commit(
                        xml_errors.select(
                            F.lit(-1).alias("wave"),
                            F.col("sitemap_url").alias("url"),
                            F.lit("xml").alias("stage"),
                            "error",
                        ),
                        mode="overwrite",
                    )
            finally:
                expand_cleanup()  # the expansion's parse caches
            blooms: dict[int, BloomFilter] = {}

        totals = {"waves": 0, "fetched": 0, "records": 0, "discovered": 0, "errors": 0}
        shards_synced = False  # mmap transport: full shard-file refresh once
        rank_bounds = None  # hot-host bucket boundaries, resampled every K
        bounds_age = 0

        while wave < config.max_waves:
            # every wave, live or resumed, schedules from the committed
            # state (bucketed base ⊳ op log): the plan is one base scan
            # plus one op-log scan whatever the wave index
            frontier = _reconstruct_frontier(spark, state.frontier)
            ttl = config.recrawl_after_waves
            resurrected = None
            if ttl is not None and wave >= ttl:
                # resurrection: rows fetched exactly ttl waves ago age out
                # of the seen set's "fresh" window and rejoin the frontier
                # (each seen row expires exactly once; a refetch appends a
                # new seen row, so the cycle repeats every ttl waves).
                # frontier ∩ resurrected = ∅: a pending URL has no fresh
                # seen row, so it cannot be expiring now.
                # read_wave_range prunes the read to wave w-ttl's own data
                # dirs (or the base's wave=w-ttl partition) — never a full
                # scan
                expired = state.seen.read_wave_range(
                    spark, wave - ttl, wave - ttl + 1
                )
                if expired is not None:
                    # resurrect the RAW url (seen carries it for exactly
                    # this): fetch_pages joins the pages source on the
                    # exact string, so a canonical-form resurrection would
                    # silently miss any URL whose raw form differs
                    # (uppercase host, :80, fragment)
                    resurrected = _frontier_rows(
                        expired.select("url"), wave
                    ).withColumn(
                        "last_fetch_ts",
                        F.timestamp_seconds(
                            F.lit(float((wave - ttl) * config.wave_period))
                        ),
                    ).select([f.name for f in FRONTIER_SCHEMA.fields])
                    frontier = frontier.unionByName(resurrected)

            budgets_dim = rules_table.select(F.col("host"), "crawl_delay")
            if config.error_backoff_window is not None and state.errors.exists():
                # hosts that erred recently yield budget (AIMD-style):
                # k = #error-waves in the window, budget -> budget / 2^k.
                # read_wave_range prunes the read to the window's data dirs
                # via commit lineage — at 10^4 waves the old whole-table
                # read globbed every per-wave error dir every wave
                w0 = wave - config.error_backoff_window
                err_window = state.errors.read_wave_range(spark, w0, wave)
                if err_window is not None:
                    err_hosts = (
                        err_window
                        .where(F.col("stage") == "download")
                        .select(
                            urlnorm.url_host(F.col("url")).alias("host"), "wave"
                        )
                        .distinct()
                        .groupBy("host")
                        .agg(
                            F.least(F.count(F.lit(1)), F.lit(4))
                            .cast("int")
                            .alias("backoff_k")
                        )
                    )
                    # full outer: hosts with errors but no robots entry
                    # still back off
                    budgets_dim = budgets_dim.join(err_hosts, "host", "full")
            if rank_bounds is None or bounds_age >= max(
                1, config.resample_bounds_waves
            ):
                from swspark.scheduler import default_n_buckets, sample_order_bounds

                rank_bounds = sample_order_bounds(
                    frontier, default_n_buckets(spark)
                )
                bounds_age = 0
            bounds_age += 1
            scheduled = schedule_wave(
                frontier,
                budgets_dim,
                config.wave_period,
                config.throttle,
                config.max_urls_per_wave,
                bounds=rank_bounds,
            )
            scheduled = salted_repartition(
                scheduled,
                spark.sparkContext.defaultParallelism,
                config.salt_buckets,
            ).cache()
            n_sched = scheduled.count()
            if n_sched == 0:
                scheduled.unpersist()
                if resurrected is not None:
                    # an idle (fully-throttled) wave still changed the
                    # frontier: commit the resurrected rows as add-only
                    # op-log deltas, or the next wave's fold (and any
                    # resume) would miss them (the expiry read consults
                    # wave w-ttl exactly once)
                    state.frontier.commit(
                        _frontier_delta(None, None, resurrected, wave),
                        mode="append",
                        lineage={"next_wave": wave + 1, "wave": wave,
                                 "scheduled": 0},
                    )
                if ttl is None:
                    break  # quiescence (A28)
                # last fetch wave straight from commit lineage — no scan
                last = (
                    state.seen.manifest()["lineage"].get("wave")
                    if state.seen.exists() else None
                )
                if last is None or wave >= last + ttl:
                    break  # nothing pending and nothing left to expire
                wave += 1  # idle wave: wall-clock passes until next expiry
                continue

            fetched, dl_errs, obs = fetch_pages(
                scheduled, pages, on_dl_error=config.on_dl_error
            )
            if spec_wants_context(spec):
                # ctx.robot() support: ride the host's rules-as-data onto
                # the pages (broadcast-joined; same table politeness uses)
                fetched = fetched.join(
                    rules_table.select("host", "rules"), "host", "left"
                )
            # one extraction pass per wave: the records, errors,
            # discovered and frontier commits all read this cache
            extracted = with_extraction(fetched, spec).drop("html").persist()
            rec, disc, scrap_errs = apply_extraction(extracted, spec)
            rec = rec.withColumn("wave", F.lit(wave))

            # --- commit records + trace + errors --------------------------
            state.records.commit(rec, mode="append", lineage={"wave": wave})
            state.trace.commit(
                scheduled.select(
                    F.lit(wave).alias("wave"), "host", "url", "rank"
                ),
                mode="append",
                lineage={"wave": wave},
            )
            err_all = dl_errs.select(
                F.lit(wave).alias("wave"), "url", F.lit("download").alias("stage"), "error"
            ).unionByName(
                scrap_errs.select(
                    F.lit(wave).alias("wave"), "url", F.lit("scrape").alias("stage"),
                    "error",
                )
            )
            state.errors.commit(
                err_all, mode="append", lineage={"wave": wave}, count_rows=True
            )
            n_errors = state.errors.manifest()["lineage"]["n_rows"]
            if n_errors and (config.on_dl_error == "fail" or config.on_scrap_error == "fail"):
                raise RuntimeError(f"wave {wave}: {n_errors} errors with fail policy")

            # --- update seen (attempted URLs count as seen; 404s are not
            # retried forever, matching "scheduled+fetched" accounting) ----
            seen_delta = scheduled.select(
                "url_hash", "url_canon", "url", F.lit(wave).alias("wave")
            )
            state.seen.commit(seen_delta, mode="append", lineage={"wave": wave})
            compaction_due = (wave + 1) % config.compact_every_waves == 0
            if compaction_due:
                # fold base + K wave deltas into one bucketed, wave-
                # partitioned snapshot (bounded maintenance; amortized
                # O(|seen|/K) per wave) and reclaim superseded dirs
                state.seen.compact(
                    spark, seen_bucket,
                    lineage={"wave": wave, "compacted_through": wave},
                )
                # retention floor K+2: every post-compaction wave's delta
                # manifest must outlive the next cycle (read_wave_range
                # walks them for recrawl expiry, and crash-rollback needs
                # the previous wave's manifest as its anchor)
                state.seen.expire_snapshots(
                    max(config.snapshot_keep_last, config.compact_every_waves + 2)
                )
            # durable incremental shard delta (distributed build), persisted
            # so the same shards feed both the table commit and the
            # in-memory merge below without recomputation
            delta_shards = build_filter_shards(
                seen_delta, config.n_seen_buckets,
                fixed_bits=bloom_bits, fixed_k=bloom_k,
            ).persist()
            state.shards.commit(
                delta_shards, mode="append",
                lineage={"wave": wave,
                         "geometry": [bloom_bits, bloom_k],
                         "seen_version": state.seen.current_version()},
            )
            # merge the distributed shard blobs (n_seen_buckets fixed-size
            # rows, ~2 MB total) — never the raw frontier-cardinality hashes
            wave_touched = _merge_bloom_shards(blooms, delta_shards)
            delta_shards.unpersist()

            # --- discovered URLs -> next frontier (sendUrl feedback, A22) --
            disc_new = _frontier_rows(
                disc.select(F.col("discovered_url").alias("url")), wave + 1
            )
            disc_new = robots_filter(disc_new)
            # split read: Bloom-positive suspects take a shuffle-free
            # sort-merge anti-join against the bucketed base + broadcast
            # anti-joins against the recent wave deltas
            disc_new = filter_new_urls(
                spark, disc_new, state.seen.read_split(spark), blooms,
                config.n_seen_buckets, shard_dir=config.bloom_shard_dir,
                # first write of a session refreshes every shard file (the
                # on-disk set may be stale); afterwards only this wave's
                # touched buckets are rewritten (their mtime bump is the
                # only re-map executors pay)
                touched_buckets=wave_touched if shards_synced else None,
            )
            shards_synced = True
            state.discovered.commit(
                disc.select(F.lit(wave).alias("wave"), "url", "discovered_url"),
                mode="append",
                lineage={"wave": wave},
            )

            m = obs.get
            lineage = {
                "next_wave": wave + 1,
                "wave": wave,
                "scheduled": n_sched,
                "pages_in": m["pages_in"],
                "pages_out": m["pages_out"],
                "errors": n_errors,
                "seen_version": state.seen.current_version(),
            }
            # --- next frontier: wave-sized DELTA commit (op log: del =
            # scheduled keys, add = discovered + resurrected rows), never
            # an O(|frontier|) rewrite; the next wave folds it in ---------
            state.frontier.commit(
                _frontier_delta(seen_delta, disc_new, resurrected, wave),
                mode="append", lineage=lineage,
            )
            if compaction_due:
                # every K waves: fold base + K deltas into a fresh bucketed
                # base (amortized O(|frontier|/K) per wave), as seen does
                state.frontier.commit(
                    _reconstruct_frontier(spark, state.frontier),
                    mode="overwrite", bucket=key_bucket,
                    lineage=dict(lineage, compacted_through=wave),
                )
                state.frontier.expire_snapshots(config.snapshot_keep_last)
            scheduled.unpersist()
            extracted.unpersist()

            totals["waves"] += 1
            totals["fetched"] += m["pages_out"]
            totals["errors"] += n_errors
            wave += 1

    finally:
        for df in (rules_table, scheduled, extracted, delta_shards):
            if df is not None:
                df.unpersist()
    totals["records"] = (
        state.records.read(spark).count() if state.records.exists() else 0
    )
    totals["discovered"] = (
        state.discovered.read(spark).count() if state.discovered.exists() else 0
    )
    totals["seen"] = state.seen.read(spark).count() if state.seen.exists() else 0
    return totals


_FRONTIER_KEYS = ["url_hash", "url_canon"]


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
            *[f.name for f in FRONTIER_SCHEMA.fields],
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
    ).where(F.col("url").isNotNull()).select(
        [f.name for f in FRONTIER_SCHEMA.fields]
    )


def _rebuild_blooms(
    spark: SparkSession, state: CrawlState, seen_df: DataFrame,
    config: CrawlConfig, bloom_bits: int, bloom_k: int,
) -> dict[int, BloomFilter]:
    """Resume path (SURVEY.md §7 risk 3): load the persisted shard
    deltas if their geometry and seen-version line up; otherwise fall
    back to an exact rebuild from the seen table. ``bloom_bits`` /
    ``bloom_k`` are the EFFECTIVE geometry (possibly derived from
    config.expected_total_urls)."""
    if state.shards.exists():
        m = state.shards.manifest()["lineage"]
        geometry_ok = m.get("geometry") == [bloom_bits, bloom_k]
        version_ok = m.get("seen_version") == state.seen.current_version()
        if geometry_ok and version_ok:
            try:
                return load_shards(state.shards.read(spark))
            except ValueError:
                pass  # mixed geometry rows -> rebuild
    if seen_df.isEmpty():
        return {}
    shards = build_filter_shards(
        seen_df, config.n_seen_buckets,
        fixed_bits=bloom_bits, fixed_k=bloom_k,
    )
    return load_shards(shards)


def _merge_bloom_shards(
    blooms: dict[int, BloomFilter], delta_shards: DataFrame
) -> set[int]:
    """Incremental per-wave shard update: OR-merge the distributed
    fixed-geometry shard blobs (one bounded-size row per touched
    bucket) into the in-memory fast-path filters. The driver never
    sees frontier-cardinality data — only n_seen_buckets x 128 KiB of
    bitmaps per wave. Returns the touched bucket ids so the mmap
    transport rewrites only those shard files."""
    touched: set[int] = set()
    for r in delta_shards.select("bucket", "m_bits", "k", "bloom").collect():
        bf = BloomFilter.from_bytes(r.m_bits, r.k, bytes(r.bloom))
        prev = blooms.get(r.bucket)
        if prev is None:
            blooms[r.bucket] = bf
        else:
            prev.merge(bf)
        touched.add(int(r.bucket))
    return touched
