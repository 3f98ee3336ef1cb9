"""CLI mirroring the reference's entry points (sws-cli,
crates/sws-cli/src/main.rs:240-250):

  python -m swspark crawl  — sitemap-seeded wave crawl -> records CSV
  python -m swspark scrap  — offline batch scrape of stored pages or
                             an HTML file glob -> records CSV

A user of `sws crawl -s script.lua -o out.csv` runs
`python -m swspark crawl --spec urbandict --pages pages.parquet ...
-o out.csv`; the Lua script becomes a named, versioned extraction
spec (SURVEY.md §2 A31-A33). CLI flags override config like the
reference's CLI > Lua > defaults precedence (main.rs:120-150).
"""

from __future__ import annotations

import argparse
import sys
import tempfile

from pyspark.sql import functions as F


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--spec", default="fulltext",
                   help="extraction spec name (urbandict|fandom|fulltext)")
    p.add_argument("-s", "--spec-file", default=None,
                   help="load an ExtractionSpec from a Python file "
                        "(mirrors `sws crawl -s script.lua`); wins over "
                        "--spec")
    p.add_argument("-o", "--output", default=None,
                   help="output CSV directory; omitted -> records "
                        "stream to stdout (scraper.rs:131-171)")
    p.add_argument("--append", action="store_true",
                   help="append to output (writer.rs:92-116 Append mode)")
    p.add_argument("--delimiter", default=",")
    p.add_argument("--escape", default=None,
                   help="escape char; disables double-quote escaping "
                        "(writer.rs:28-38)")
    p.add_argument("--cpus", type=int, default=None)
    # None defaults: "was this flag set?" drives CLI > spec > default
    p.add_argument("--on-scrap-error", choices=["skip", "fail"], default=None)


def _resolve_spec(args):
    if args.spec_file:
        from swspark.extract.specs import load_spec_file

        return load_spec_file(args.spec_file)
    return args.spec


def _sink_records(records, args) -> None:
    from swspark.sink import write_csv, write_csv_stdout

    if args.output:
        write_csv(records, args.output,
                  mode="append" if args.append else "overwrite",
                  delimiter=args.delimiter, escape=args.escape)
    else:
        write_csv_stdout(records, delimiter=args.delimiter,
                         escape=args.escape)


def cmd_crawl(args) -> int:
    from swspark.driver import CrawlConfig, CrawlState, crawl
    from swspark.scheduler import Throttle
    from swspark.session import get_spark

    spark = get_spark("swspark-crawl", cores=args.cpus)
    spec = _resolve_spec(args)
    # precedence: CLI flag > spec-file config > engine default
    # (main.rs:120-150's CLI > Lua > defaults)
    spec_conf = dict(getattr(spec, "config", None) or {})

    def layered(key, default):
        cli = getattr(args, key, None)
        if cli is not None:
            return cli
        return spec_conf.get(key, default)

    throttle_s = layered("throttle", "concurrent:100")
    kind, _, val = throttle_s.partition(":")
    throttle = Throttle(
        {"concurrent": "CONCURRENT", "per-second": "PER_SECOND",
         "delay": "DELAY"}[kind],
        float(val or 100),
    )
    cfg = CrawlConfig(
        spec=spec,
        user_agent=layered("user_agent", "SWSbot"),
        wave_period=layered("wave_period", 10.0),
        throttle=throttle,
        max_waves=layered("max_waves", 100),
        max_urls_per_wave=layered("max_urls_per_wave", None),
        recrawl_after_waves=layered("recrawl_after_waves", None),
        error_backoff_window=layered("error_backoff_window", None),
        on_dl_error=layered("on_dl_error", "skip"),
        on_xml_error=layered("on_xml_error", "skip"),
        on_scrap_error=layered("on_scrap_error", "skip"),
    )
    seeds = spark.read.parquet(args.seeds)
    if args.scenario:
        seeds = seeds.where(F.col("scenario") == args.scenario)
    warehouse = args.warehouse or tempfile.mkdtemp(prefix="swspark-wh-")
    totals = crawl(
        spark, cfg, warehouse, seeds,
        spark.read.parquet(args.sitemaps),
        spark.read.parquet(args.robots),
        spark.read.parquet(args.pages),
        resume=args.resume,
    )
    state = CrawlState(warehouse)
    records = state.records.read(spark)
    _sink_records(records, args)
    print(f"crawl done: {totals}; warehouse={warehouse}; "
          f"csv={args.output or '<stdout>'}", file=sys.stderr)
    return 0


def cmd_scrap(args) -> int:
    from swspark.extract.udf import apply_extraction, with_extraction
    from swspark.session import get_spark
    from swspark.sources import read_html_glob, read_pages_parquet, single_page

    spark = get_spark("swspark-scrap", cores=args.cpus)
    if args.glob:
        pages = read_html_glob(spark, args.glob)
    elif args.pages:
        pages = read_pages_parquet(spark, args.pages).select("url", "html")
    elif args.file:
        with open(args.file, "rb") as fh:
            # a --file page is a PATH location (sws-lua scraper.rs:269)
            pages = single_page(spark, args.file, fh.read(),
                                location_kind="PATH")
    else:
        print("one of --glob / --pages / --file is required", file=sys.stderr)
        return 2
    spec = _resolve_spec(args)
    # one extraction pass: the error count and the sink read this cache
    extracted = with_extraction(pages, spec).drop("html").persist()
    try:
        rec, _urls, errs = apply_extraction(extracted, spec)
        n_err = errs.count()
        scrap_policy = args.on_scrap_error or (
            (getattr(spec, "config", None) or {}).get("on_scrap_error", "skip")
        )
        if n_err and scrap_policy == "fail":
            print(f"{n_err} scrape errors (on-scrap-error=fail)", file=sys.stderr)
            return 1
        _sink_records(rec, args)
    finally:
        extracted.unpersist()
    print(f"scrap done: errors={n_err}; csv={args.output or '<stdout>'}",
          file=sys.stderr)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="swspark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    c = sub.add_parser("crawl", help="sitemap-seeded wave crawl")
    _add_common(c)
    c.add_argument("--seeds", required=True, help="seeds parquet")
    c.add_argument("--sitemaps", required=True, help="sitemaps parquet")
    c.add_argument("--robots", required=True, help="robots parquet")
    c.add_argument("--pages", required=True, help="pages parquet (fetch source)")
    c.add_argument("--scenario", default=None)
    c.add_argument("--warehouse", default=None)
    c.add_argument("--resume", action="store_true")
    c.add_argument("--user-agent", default=None)
    c.add_argument("--wave-period", type=float, default=None)
    c.add_argument("--max-waves", type=int, default=None)
    c.add_argument("--max-urls-per-wave", type=int, default=None)
    c.add_argument("--recrawl-after-waves", type=int, default=None,
                   help="refetch URLs N waves after their last fetch "
                        "(default: fetch-once, like the reference)")
    c.add_argument("--error-backoff-window", type=int, default=None,
                   help="halve a host's budget per error-wave in the "
                        "last N waves (default: off)")
    c.add_argument("--throttle", default=None,
                   help="concurrent:N | per-second:N | delay:S")
    c.add_argument("--on-dl-error", choices=["skip", "fail"], default=None)
    c.add_argument("--on-xml-error", choices=["skip", "fail"], default=None)
    c.set_defaults(fn=cmd_crawl)

    s = sub.add_parser("scrap", help="offline batch scrape")
    _add_common(s)
    s.add_argument("--glob", default=None, help="HTML file glob (A6)")
    s.add_argument("--pages", default=None, help="pages parquet")
    s.add_argument("--file", default=None, help="single HTML file (A7)")
    s.set_defaults(fn=cmd_scrap)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
