"""The benchmark's workloads.

Each workload makes its inputs from the seed (``generate``), lays them
out as tables (``layout``), runs one closed-loop operation (``op``),
the same operation with per-layer spans (``traced_op``), and checks
an operation's outputs outside the timed region (``check``). The
engine receives only the generated tables.

Sizes keep one run of each workload listed in ``BENCHMARK.json``
within the driver's time budget on a 4-core box.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from perfbench.stats import wave_latencies


def _noop(df) -> None:
    """Materialize a DataFrame without keeping its rows."""
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _reset(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _skew(df, n_partitions: int) -> float:
    """Rows in the fullest partition over the mean rows per partition."""
    per_part = [r[1] for r in df.groupBy(F.spark_partition_id()).count().collect()]
    return max(per_part) / (sum(per_part) / n_partitions) if per_part else 0.0


def _digest(df):
    """Order-free fingerprint of a URL set: (rows, xor, bounded sum)."""
    h = F.xxhash64("url")
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFF))).alias("s"),
    ).first()
    return (r.n, r.x, r.s)


class Workload:
    name = ""
    # operations run before the timed loop; crawl_news runs none, so
    # its one operation pays the first-crawl-in-a-JVM cost a CLI user
    # pays on every `python -m swspark crawl`
    warmups = 1

    def __init__(self, spark, work: str, seed: int, cores: int):
        self.spark, self.work, self.seed, self.cores = spark, work, seed, cores

    def waves(self, res: dict) -> list[float]:
        """Latency of every wave of one operation (default: the
        operation is one wave)."""
        return [res["op_s"]]


# --------------------------------------------------------------------
class FrontierWave(Workload):
    """One stress-budget scheduling wave over a synthetic frontier with
    one hot host, against a bucketed seen table and pages table."""

    name = "frontier_wave"
    # the first operations of a JVM keep speeding up as code compiles
    warmups = 8
    N_URLS = 300_000
    N_HOSTS = 1000
    SEEN_BUCKETS = 16
    PAGES_BUCKETS = 16
    SALT = 16

    def frontier_df(self, n: int):
        # host assignment salted by the seed; every 10th URL goes to
        # the hot host, whose id is also drawn from the seed
        hot = self.seed % self.N_HOSTS
        host_id = F.when(F.pmod("id", F.lit(10)) == 0, F.lit(hot)).otherwise(
            F.pmod(F.xxhash64("id", F.lit(self.seed)), F.lit(self.N_HOSTS))
        )
        host = F.concat(F.lit("h"), host_id.cast("string"),
                        F.lit(".example.test"))
        return self.spark.range(n).select(
            F.concat(F.lit("https://"), host, F.lit("/p/"),
                     F.col("id").cast("string")).alias("url"),
            host.alias("host"),
            F.lit(0).alias("priority"),
            F.lit(None).cast("timestamp").alias("last_fetch_ts"),
        )

    def generate(self) -> None:
        self.frontier = self.frontier_df(self.N_URLS)

    def layout(self) -> None:
        from swspark.scheduler import default_n_buckets, sample_order_bounds
        from swspark.seen import with_url_identity

        spark = self.spark
        spark.sql("DROP TABLE IF EXISTS fw_seen")
        spark.sql("DROP TABLE IF EXISTS fw_pages")
        for t in ("fw_seen", "fw_pages"):
            shutil.rmtree(os.path.join(self.work, "wh", t), ignore_errors=True)
        # the first quarter of the frontier is already seen
        (with_url_identity(self.frontier_df(self.N_URLS // 4).select("url"))
         .select("url_hash", "url_canon")
         .write.bucketBy(self.SEEN_BUCKETS, "url_hash").sortBy("url_hash")
         .format("parquet").mode("overwrite").saveAsTable("fw_seen"))
        (self.frontier.select(
            "url", F.encode(F.repeat(F.lit("x"), 64), "utf-8").alias("html"))
         .write.bucketBy(self.PAGES_BUCKETS, "url").sortBy("url")
         .format("parquet").mode("overwrite").saveAsTable("fw_pages"))
        self.seen = spark.table("fw_seen")
        self.pages = spark.table("fw_pages")
        m = F.length("host") % 3
        if getattr(self, "budgets", None) is not None:
            self.budgets.unpersist()
        self.budgets = self.frontier.select("host").distinct().select(
            "host",
            F.when(m == 0, F.lit(0.5)).when(m == 1, F.lit(1.0))
            .otherwise(F.lit(2.0)).alias("crawl_delay"),
        ).persist()
        self.budgets.count()
        t0 = time.perf_counter()
        self.bounds = sample_order_bounds(
            with_url_identity(self.frontier), default_n_buckets(spark),
            approx_count=self.N_URLS,
        )
        self.bounds_s = time.perf_counter() - t0

    def _schedule(self, strategy: str = "distributed", candidates=None):
        from swspark.scheduler import Throttle, salted_repartition, schedule_wave
        from swspark.seen import filter_new_urls, with_url_identity

        if candidates is None:
            candidates = filter_new_urls(
                self.spark, with_url_identity(self.frontier), self.seen,
                None, self.SEEN_BUCKETS,
            )
        kw = {"bounds": self.bounds} if strategy == "distributed" else {}
        scheduled = schedule_wave(
            candidates, self.budgets, max(1.0, self.N_URLS / 2000.0),
            Throttle("CONCURRENT", 1e18), strategy=strategy, **kw,
        )
        return salted_repartition(scheduled, self.cores, self.SALT)

    def op(self) -> dict:
        n, x, s = _digest(self._schedule().join(self.pages, "url"))
        return {"urls": n, "digest": (n, x, s)}

    def traced_op(self, tr) -> dict:
        from swspark.seen import filter_new_urls, with_url_identity

        kept = []

        def boundary(df, attrs, key):
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            kept.append(df)
            obs = Observation()
            _noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
            attrs[key] = obs.get["n"]
            return df

        out: dict = {"scheduler.bounds_s": self.bounds_s,
                     "seen.shard_build_s": 0.0}
        try:
            with tr.span("frontier_wave.op"):
                with tr.span("urlnorm") as a:
                    ident = boundary(with_url_identity(self.frontier), a, "rows")
                out["urlnorm.rows"] = out["seen.rows_in"] = a["rows"]
                with tr.span("seen") as a:
                    cand = boundary(filter_new_urls(
                        self.spark, ident, self.seen, None, self.SEEN_BUCKETS,
                    ), a, "rows")
                out["seen.rows_new"] = out["scheduler.rows_in"] = a["rows"]
                with tr.span("scheduler") as a:
                    salted = boundary(self._schedule(candidates=cand), a, "rows")
                out["scheduler.rows_out"] = out["fetch.pages_in"] = a["rows"]
                with tr.span("fetch"):
                    n, x, s = _digest(salted.join(self.pages, "url"))
                out["fetch.pages_out"] = n
        except BaseException:
            for df in kept:
                df.unpersist()
            raise

        def finish() -> dict:
            try:
                out["scheduler.partition_skew"] = _skew(salted, self.cores)
            finally:
                for df in kept:
                    df.unpersist()
            return out

        return {"urls": n, "digest": (n, x, s), "finish": finish}

    def check(self, res: dict) -> list[str]:
        if not hasattr(self, "_reference"):
            # the same inputs through the two-phase rank
            self._reference = _digest(
                self._schedule("two_phase").join(self.pages, "url"))
        if res["digest"] != self._reference:
            return [f"schedule {res['digest']} != two_phase {self._reference}"]
        return []


# --------------------------------------------------------------------
class ScrapPages(Workload):
    """The calls `python -m swspark scrap --spec urbandict` makes, over
    the dictionary pages of the `small` fixture corpus."""

    name = "scrap_pages"
    SPEC = "urbandict"

    def generate(self) -> None:
        from swspark.fixtures import DICT_HOST, generate_corpus

        corpus = generate_corpus("small", self.seed)
        pages = corpus.pages
        self.pages_pd = pages[pages.url.str.startswith(f"https://{DICT_HOST}/")][
            ["url", "html"]].reset_index(drop=True)
        self.golden = corpus.golden_urbandict

    def layout(self) -> None:
        # one file per core: the scan runs one task per core
        self.pages_dir = _reset(os.path.join(self.work, "pages"))
        for k in range(self.cores):
            self.pages_pd.iloc[k::self.cores].to_parquet(
                os.path.join(self.pages_dir, f"part-{k:05d}.parquet"))
        self.out_dir = os.path.join(self.work, "records_csv")

    def _extract(self):
        from swspark.extract.udf import apply_extraction
        from swspark.sources import read_pages_parquet

        pages = read_pages_parquet(self.spark, self.pages_dir).select("url", "html")
        rec, _urls, errs = apply_extraction(pages, self.SPEC)
        return rec, errs

    def op(self) -> dict:
        from swspark.sink import write_csv

        rec, errs = self._extract()
        n_err = errs.count()
        write_csv(rec, self.out_dir)
        return {"urls": len(self.pages_pd), "errors": n_err}

    def traced_op(self, tr) -> dict:
        from swspark.sink import write_csv

        out: dict = {"extract.pages": len(self.pages_pd)}
        with tr.span("scrap_pages.op"):
            with tr.span("extract") as a:
                rec, errs = self._extract()
                rec = rec.persist(StorageLevel.MEMORY_AND_DISK)
                obs = Observation()
                _noop(rec.observe(obs, F.count(F.lit(1)).alias("n")))
                a["records"] = obs.get["n"]
                n_err = errs.count()
            with tr.span("sink"):
                write_csv(rec, self.out_dir)
        rec.unpersist()
        out.update({"extract.records": a["records"], "extract.errors": n_err,
                    "sink.rows": a["records"]})
        return {"urls": len(self.pages_pd), "errors": n_err,
                "finish": lambda: out}

    def check(self, res: dict) -> list[str]:
        from swspark.extract.specs import SPECS

        fails = []
        if res["errors"]:
            fails.append(f"{res['errors']} scrape errors")
        cols = ["url", *SPECS[self.SPEC].fields]
        got = (self.spark.read.schema(", ".join(f"`{c}` string" for c in cols))
               .option("emptyValue", "").csv(self.out_dir).toPandas())
        key = ["url", "def_index"]
        got = got.fillna("").sort_values(key).reset_index(drop=True)
        exp = self.golden[cols].sort_values(key).reset_index(drop=True)
        if not got.equals(exp):
            fails.append(f"records differ from golden_urbandict "
                         f"({len(got)} vs {len(exp)} rows)")
        return fails


# --------------------------------------------------------------------
class CrawlNews(Workload):
    """One full sitemap-seeded `driver.crawl` into a fresh warehouse
    over the `tiny` fixture corpus (dict + news hosts)."""

    name = "crawl_news"
    warmups = 0
    SCENARIOS = ("dict_sitemap", "news_sitemaps")
    # budgets max(1, floor(900 / crawl_delay)) >= 450 URLs per host
    # per wave drain the corpus in one wave; a second, quiescent wave
    # ends the crawl
    WAVE_PERIOD = 900.0
    SPEC = "fulltext"

    def generate(self) -> None:
        from swspark.fixtures import generate_corpus

        self.corpus = generate_corpus("tiny", self.seed)
        self._n = 0

    def layout(self) -> None:
        c = self.corpus
        d = _reset(os.path.join(self.work, "corpus"))
        seeds = c.seeds[c.seeds.scenario.isin(self.SCENARIOS)]
        for name, pdf in (("pages", c.pages[["url", "html"]]),
                          ("sitemaps", c.sitemaps),
                          ("robots", c.robots[["host", "body"]]),
                          ("seeds", seeds)):
            pdf.to_parquet(os.path.join(d, f"{name}.parquet"))
        read = self.spark.read.parquet
        self.tables = {n: read(os.path.join(d, f"{n}.parquet"))
                       for n in ("seeds", "sitemaps", "robots", "pages")}

    def op(self, tr=None) -> dict:
        """The calls `python -m swspark crawl -o DIR` makes: the crawl,
        then its records to CSV."""
        from swspark import driver
        from swspark.sink import write_csv

        wh = _reset(os.path.join(self.work, f"wh-{self._n}"))
        self._n += 1
        t = self.tables
        totals = driver.crawl(
            self.spark,
            driver.CrawlConfig(spec=self.SPEC, wave_period=self.WAVE_PERIOD),
            wh, t["seeds"], t["sitemaps"], t["robots"], t["pages"],
        )
        records = driver.CrawlState(wh).records.read(self.spark)
        csv_dir = os.path.join(wh, "records_csv")
        if tr is None:
            write_csv(records, csv_dir)
        else:
            with tr.span("sink"):
                write_csv(records, csv_dir)
        return {"urls": totals["fetched"], "warehouse": wh, "csv": csv_dir}

    def waves(self, res: dict) -> list[float]:
        from swspark.driver import CrawlState

        return wave_latencies(CrawlState(res["warehouse"]).frontier.history())

    def traced_op(self, tr) -> dict:
        from swspark import driver, scheduler
        from swspark.tables import SnapshotTable

        cap: dict[str, list] = {}
        commits = {"n": 0, "bytes": 0}

        def keep(key):
            def hook(attrs, args, kwargs, result):
                cap.setdefault(key, []).append((args, result))
            return hook

        def commit_hook(attrs, args, kwargs, version):
            table = args[0]
            commits["n"] += 1
            new_dir = table.manifest(version)["data_dirs"][-1]
            commits["bytes"] += _dir_bytes(os.path.join(table.root, new_dir))

        targets = [
            (driver, "crawl", "driver", None),
            (driver, "expand_sitemaps", "sitemaps", keep("sitemaps")),
            (driver, "build_robots_rules_table", "robots", None),
            (driver, "robots_filter_distributed", "robots", keep("robots")),
            (driver, "with_url_identity", "urlnorm", keep("urlnorm")),
            (driver, "filter_new_urls", "seen", keep("seen")),
            (driver, "build_filter_shards", "seen.shards", None),
            (scheduler, "sample_order_bounds", "scheduler.bounds", None),
            (driver, "schedule_wave", "scheduler", keep("schedule")),
            (driver, "salted_repartition", "scheduler", keep("salted")),
            (driver, "fetch_pages", "fetch", keep("fetch")),
            (driver, "apply_extraction", "extract", keep("extract")),
            (SnapshotTable, "commit",
             lambda a: "tables.commit_s." + os.path.basename(a[0].root),
             commit_hook),
        ]
        with tr.patched(targets):
            res = self.op(tr)

        def finish() -> dict:
            """Row counts: re-evaluate the DataFrames each layer returned
            (their inputs are immutable snapshots)."""
            def total(key, pick):
                return sum(pick(a, o).count() for a, o in cap.get(key, []))

            fetch_obs = [o[2].get for _a, o in cap.get("fetch", [])]
            layers = {
                "urlnorm.rows": total("urlnorm", lambda a, o: o),
                "sitemaps.urls_out": total("sitemaps", lambda a, o: o.frontier),
                "robots.rows_in": total("robots", lambda a, o: a[0]),
                "robots.rows_allowed": total("robots", lambda a, o: o),
                "seen.rows_in": total("seen", lambda a, o: a[1]),
                "seen.rows_new": total("seen", lambda a, o: o),
                "scheduler.rows_in": total("schedule", lambda a, o: a[0]),
                "scheduler.rows_out": total("schedule", lambda a, o: o),
                "scheduler.partition_skew": max(
                    (_skew(o, self.cores) for _a, o in cap.get("salted", [])),
                    default=0.0),
                "fetch.pages_in": sum(m["pages_in"] for m in fetch_obs),
                "fetch.pages_out": sum(m["pages_out"] for m in fetch_obs),
                "extract.pages": total("extract", lambda a, o: a[0]),
                "extract.records": total("extract", lambda a, o: o[0]),
                "extract.errors": total("extract", lambda a, o: o[2]),
                "tables.commits": commits["n"],
                "tables.bytes_written": commits["bytes"],
                "sink.rows": self.spark.read.option("multiLine", True).csv(res["csv"]).count(),
            }
            for i, w in enumerate(self.waves(res)):
                layers[f"driver.wave_s.w{i}"] = w
            return layers

        res["finish"] = finish
        return res

    def check(self, res: dict) -> list[str]:
        from swspark.driver import CrawlState

        spark, c = self.spark, self.corpus
        state = CrawlState(res["warehouse"])
        fails = []
        rec = state.records.read(spark).select("url", "text").toPandas()
        golden = dict(zip(c.pages.url, c.pages.text))
        bad = sum(1 for u, t in zip(rec.url, rec.text) if golden.get(u) != t)
        if bad or rec.empty:
            fails.append(f"{bad} of {len(rec)} records differ from golden text")
        n_csv = spark.read.option("multiLine", True).csv(res["csv"]).count()
        if n_csv != len(rec):
            fails.append(f"{n_csv} CSV rows for {len(rec)} records")
        trace = state.trace.read(spark).select("wave", "host", "url").toPandas()
        if trace.url.duplicated().any():
            fails.append("a URL was scheduled twice")
        delay = dict(zip(c.robots.host, c.robots.crawl_delay))
        per_wave = trace.groupby(["wave", "host"]).size()
        over = [(w, h, n) for (w, h), n in per_wave.items()
                if n > max(1, math.floor(self.WAVE_PERIOD / delay[h]))]
        if over:
            fails.append(f"host budget exceeded: {over[:3]}")
        errs = state.errors.read(spark).where(F.col("stage") == "download")
        got = set(errs.select("url").toPandas().url)
        if got != set(c.missing_urls):
            fails.append(f"download errors {sorted(got)[:3]} != missing "
                         f"{sorted(c.missing_urls)[:3]}")
        return fails


WORKLOADS = {w.name: w for w in (FrontierWave, CrawlNews, ScrapPages)}
