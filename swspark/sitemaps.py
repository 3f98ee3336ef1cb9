"""Sitemap expansion: seed sitemaps -> page-URL frontier.

Reimplements the reference's recursive ``gather_urls``
(crawler.rs:36-134) as a **driver-side BFS over DataFrame waves**
(SURVEY.md §2 A21): each level is one job — fetch sitemap bodies
(join against the sitemaps table; no live HTTP in-sandbox, A1),
gunzip+parse in a vectorized pandas UDF (A2), dispatch on root
element kind (A3, scrapable.rs:54-78), collect ``<loc>`` URLs
(A4, XPath ``//sm:loc`` ≙ namespace-tolerant findall), and apply the
user ``acceptUrl`` predicate *before* anything downstream sees the
URL (A10 — the reference's only predicate pushdown, crawler.rs:92-96,
123-125). A Column predicate is a Catalyst filter; a plain Python
``(url, kind)`` predicate runs inside the parse UDF, on each loc in the
same batch, so no row-level Python UDF re-evaluates it downstream; a
context-aware ``(url, kind, ctx)`` predicate stays a separate UDF
because it needs each loc's host rules joined on.

Scale notes: sitemapindex children reach the driver only as one
``isEmpty()`` per level (does the next level exist?); page URLs never
leave executors. A real 10^10 frontier arrives over many waves — each
level's output is unioned lazily and materialized once by the caller.
"""

from __future__ import annotations

import gzip
from typing import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

SITEMAP_PARSE_TYPE = StructType(
    [
        StructField("kind", StringType()),
        StructField("locs", ArrayType(StringType())),
        StructField("error", StringType()),
    ]
)

_GZIP_MAGIC = b"\x1f\x8b"


def parse_sitemap_bytes(body: bytes) -> tuple[str, list[str]]:
    """gunzip-if-needed (crawler.rs:186-195) + XML parse (A2) + kind
    dispatch (A3) + //loc extraction (A4). Raises on bad XML/kind —
    the caller maps that to the on_xml_error policy."""
    import xml.etree.ElementTree as ET

    if body[:2] == _GZIP_MAGIC:
        body = gzip.decompress(body)
    root = ET.fromstring(body)
    tag = root.tag.rsplit("}", 1)[-1].lower()
    if tag == "sitemapindex":
        kind = "INDEX"
    elif tag == "urlset":
        kind = "URLSET"
    else:
        # scrapable.rs:60-78: any other root is an error
        raise ValueError(f"unexpected sitemap root element {tag!r}")
    locs = [
        el.text.strip()
        for el in root.iter()
        if el.tag.rsplit("}", 1)[-1] == "loc" and el.text and el.text.strip()
    ]
    return kind, locs


def _accepts(accept: Callable[[str, str], bool], url: str, kind: str) -> bool:
    try:
        return bool(accept(url, kind))
    except Exception:
        return False  # Lua error -> reject+log, scraper.rs:216-226


def make_sitemap_parse_udf(accept: Callable[[str, str], bool] | None = None):
    """The vectorized gunzip + parse UDF (body -> kind, locs, error).
    A plain Python ``accept(url, kind)`` (A31) filters each parsed
    root's locs under its kind (URLSET/INDEX) in the same batch: the
    predicate runs once per loc, and rejected locs never leave the
    worker."""

    @F.pandas_udf(SITEMAP_PARSE_TYPE)
    def sitemap_parse_udf(body: pd.Series) -> pd.DataFrame:
        kinds, locs_out, errs = [], [], []
        for b in body:
            try:
                if b is None:
                    raise ValueError("missing sitemap body (download error)")
                kind, locs = parse_sitemap_bytes(bytes(b))
                if accept is not None:
                    locs = [u for u in locs if _accepts(accept, u, kind)]
                kinds.append(kind)
                locs_out.append(locs)
                errs.append(None)
            except Exception as exc:
                kinds.append(None)
                locs_out.append(None)
                errs.append(f"{type(exc).__name__}: {exc}")
        return pd.DataFrame({"kind": kinds, "locs": locs_out, "error": errs})

    return sitemap_parse_udf


AcceptCol = Callable[[Column, Column], Column]


class CrawlingContext:
    """acceptUrl context (scraper.rs:208-227): the sitemap kind being
    walked plus the host's robots handle (interop.rs:231-274).
    ``robot()`` is None when no rules table was supplied."""

    __slots__ = ("_kind", "_robot")

    def __init__(self, kind: str | None, robot=None):
        self._kind = kind
        self._robot = robot

    def sitemap(self) -> str | None:
        return self._kind

    def robot(self):
        return self._robot


def make_accept_ctx_udf(accept: Callable[[str, str | None, "CrawlingContext"], bool]):
    """Vectorized filter for a context-aware acceptUrl(url, kind, ctx)
    predicate; the rules-as-data column rides the batch so ctx.robot()
    works on executors."""

    @F.pandas_udf("boolean")
    def accept_udf(url: pd.Series, kind: pd.Series,
                   rules: pd.Series) -> pd.Series:
        from swspark.robots import compile_raw_rules

        out = []
        for u, k, rl in zip(url, kind, rules):
            try:
                robot = compile_raw_rules(rl) if rl is not None else None
                out.append(bool(accept(u, k, CrawlingContext(k, robot))))
            except Exception:
                out.append(False)  # Lua error -> reject+log, scraper.rs:216-226
        return pd.Series(out)

    return accept_udf


class ExpansionResult:
    def __init__(self, frontier: DataFrame, errors: DataFrame, levels: int,
                 persisted: list[DataFrame] | None = None):
        self.frontier = frontier  # (url, src_sitemap)
        self.errors = errors  # (sitemap_url, error)
        self.levels = levels
        self._persisted = persisted or []

    def cleanup(self) -> None:
        """Release the per-level parse caches. Call after ``frontier``
        and ``errors`` have been materialized (e.g. committed to the
        frontier table) — consuming them afterwards re-parses."""
        for df in self._persisted:
            df.unpersist()
        self._persisted = []


def expand_sitemaps(
    spark: SparkSession,
    seed_sitemap_urls: DataFrame,
    sitemaps: DataFrame,
    accept: AcceptCol | Callable[..., bool] | None = None,
    on_xml_error: str = "skip",
    max_depth: int = 8,
    rules_table: DataFrame | None = None,
) -> ExpansionResult:
    """BFS-expand seed sitemaps into a page-URL frontier.

    seed_sitemap_urls: DataFrame with column ``sitemap_url``.
    sitemaps: the sitemaps table ``(sitemap_url, kind, body)`` — the
    simulated fetch source.
    accept: a (url_col, kind_col) -> BooleanType Column factory
    (pushdown-friendly), a plain Python ``(url, kind) -> bool`` (run
    on each loc inside the parse UDF), or a context-aware ``(url, kind, ctx) -> bool`` whose ctx exposes
    ``sitemap()``/``robot()`` (requires ``rules_table``, the
    rules-as-data robots table, for a non-None robot).
    """
    ctx_accept = False
    parse_accept = None  # a plain Python predicate, run inside the parse
    accept_filter = lambda url, kind: F.lit(True)  # noqa: E731
    if callable(accept) and not isinstance(accept, Column):
        import inspect

        try:
            n_params = len(inspect.signature(accept).parameters)
        except (TypeError, ValueError):
            n_params = 2
        if n_params >= 3:
            ctx_accept = True
            ctx_udf = make_accept_ctx_udf(accept)
        else:
            # Probe: try building a Column; else run it in the parse.
            try:
                probe = accept(F.lit("x"), F.lit("URLSET"))
                is_col = isinstance(probe, Column)
            except Exception:
                is_col = False
            if is_col:
                accept_filter = accept
            else:
                parse_accept = accept
    parse_udf = make_sitemap_parse_udf(parse_accept)
    if ctx_accept:
        from swspark import urlnorm

        null_rules = F.lit(None).cast(
            "array<struct<allow:boolean,pattern:string>>"
        )

        def _with_rules(df: DataFrame) -> DataFrame:
            if rules_table is None:
                return df.withColumn("rules", null_rules)
            return (
                df.withColumn("_h", urlnorm.url_host(F.col("loc")))
                .join(
                    rules_table.select(
                        F.col("host").alias("_h"), "rules"
                    ),
                    "_h",
                    "left",
                )
                .drop("_h")
            )

        accept_filter = lambda url, kind: ctx_udf(  # noqa: E731
            url, kind, F.col("rules")
        )

    current = seed_sitemap_urls.select("sitemap_url").distinct()
    visited = current  # cycle guard: an index cycle (A->B->A) must not
    # re-fetch/re-parse the same sitemap every level until max_depth
    frontier_parts: list[DataFrame] = []
    error_parts: list[DataFrame] = []
    persisted: list[DataFrame] = []
    levels = 0

    for _depth in range(max_depth):
        fetched = current.join(
            sitemaps.select("sitemap_url", "body"), "sitemap_url", "left"
        )
        parsed = fetched.select(
            "sitemap_url", parse_udf(F.col("body")).alias("p")
        ).select(
            "sitemap_url",
            F.col("p.kind").alias("kind"),
            F.col("p.locs").alias("locs"),
            F.col("p.error").alias("error"),
        )
        parsed = parsed.persist()
        persisted.append(parsed)
        errs = parsed.where(F.col("error").isNotNull()).select(
            "sitemap_url", "error"
        )
        if on_xml_error == "fail":
            n_err = errs.count()
            if n_err:
                for df in persisted:
                    df.unpersist()
                raise RuntimeError(f"{n_err} sitemap parse errors (on_xml_error=fail)")
        error_parts.append(errs)

        exploded = parsed.where(F.col("error").isNull()).select(
            "sitemap_url", "kind", F.explode("locs").alias("loc")
        )
        if ctx_accept:
            exploded = _with_rules(exploded)
        # urlset leaves -> page URLs under acceptUrl(URL_SET)
        pages = exploded.where(F.col("kind") == "URLSET").where(
            accept_filter(F.col("loc"), F.lit("URLSET"))
        )
        frontier_parts.append(
            pages.select(F.col("loc").alias("url"),
                         F.col("sitemap_url").alias("src_sitemap"))
        )
        # sitemapindex children -> next BFS level under acceptUrl(INDEX)
        children = exploded.where(F.col("kind") == "INDEX").where(
            accept_filter(F.col("loc"), F.lit("INDEX"))
        )
        nxt = (
            children.select(F.col("loc").alias("sitemap_url"))
            .distinct()
            .join(visited, "sitemap_url", "left_anti")
        )
        levels += 1
        # Child sitemap sets are tiny (index fan-out); isEmpty() is the
        # loop condition and the only driver-side materialization.
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        current = nxt

    frontier = frontier_parts[0]
    for p in frontier_parts[1:]:
        frontier = frontier.unionByName(p)
    errors = error_parts[0]
    for p in error_parts[1:]:
        errors = errors.unionByName(p)
    return ExpansionResult(frontier, errors, levels, persisted)
