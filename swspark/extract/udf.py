"""Vectorized Arrow UDF wrapping an extraction spec.

The spec's ``scrap_page`` is the reference's flatMap UDTF
(scraper.rs:193-206): page -> 0..n records + 0..n discovered URLs.
Here it becomes one Arrow-batched pandas UDF

    (url, html) -> struct(records array<array<string>>,
                          urls    array<string>,
                          error   string)

followed by dataframe-level ``explode`` — the idiomatic Spark shape
for a one-to-many generator. Parse errors are captured per-row into
``error`` so the caller can apply the reference's per-stage error
policy (OnError::{Fail, SkipAndLog}, config.rs:81-86) as a filter,
never a task failure. ``with_extraction`` adds the struct column;
``apply_extraction`` projects records, discovered URLs and errors
from it, so a caller that persists the former runs the UDF once.
"""

from __future__ import annotations

import inspect

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StringType,
    StructField,
    StructType,
)

from swspark.extract.dom import Html, stream_fulltext
from swspark.extract.specs import SPECS, ExtractionSpec
from swspark.extract.specs import _fulltext_scrap as _FULLTEXT_SCRAP

EXTRACT_RESULT_TYPE = StructType(
    [
        StructField("records", ArrayType(ArrayType(StringType()))),
        StructField("urls", ArrayType(StringType())),
        StructField("error", StringType()),
    ]
)


class PageLocation:
    """Where a page came from — the reference's PageLocation enum
    (scrapable.rs:117-121) with the Lua accessor surface
    (interop.rs:145-179): ``kind`` is URL or PATH, ``get()`` returns
    the url string resp. the canonicalized filesystem path."""

    URL = "URL"
    PATH = "PATH"
    __slots__ = ("kind", "_value")

    def __init__(self, kind: str, value: str):
        self.kind = kind
        self._value = value

    def get(self) -> str:  # interop.rs:166-176
        if self.kind == self.PATH:
            import os

            v = self._value
            if v.startswith("file:"):  # binaryFile sources emit URIs
                from urllib.parse import unquote, urlparse

                v = unquote(urlparse(v).path)
            return os.path.realpath(v)
        return self._value


class ScrapingContext:
    """Per-call scraping context — the reference's Lua context surface
    (interop.rs:231-274, 309-329): ``workerId()`` is the executor task
    slot processing the page (Spark partition id ≙ worker index),
    ``robot()`` is the host's parsed robots handle (None unless the
    caller joined the rules-as-data column onto the pages), and
    ``location()`` distinguishes crawled URLs from glob-sourced files
    (scrapable.rs:104-106; sws-lua scraper.rs:269 builds a Path
    location for `sws scrap --files`)."""

    __slots__ = ("url", "_worker_id", "_robot", "_location")

    def __init__(self, url: str, worker_id: int, robot=None,
                 location_kind: str = PageLocation.URL):
        self.url = url
        self._worker_id = worker_id
        self._robot = robot
        self._location = PageLocation(
            location_kind or PageLocation.URL, url
        )

    def worker_id(self) -> int:  # interop.rs:309-315
        return self._worker_id

    def robot(self):  # interop.rs:325-329
        return self._robot

    def location(self) -> PageLocation:  # scrapable.rs:104-106
        return self._location


def spec_wants_context(spec: ExtractionSpec | str) -> bool:
    """True when scrap_page declares a third (context) parameter."""
    if isinstance(spec, str):
        spec = SPECS[spec]
    try:
        return len(inspect.signature(spec.scrap_page).parameters) >= 3
    except (TypeError, ValueError):
        return False


def make_extract_udf(spec: ExtractionSpec | str):
    """Build the Arrow pandas UDF for a spec (broadcast via closure).
    Context-aware specs (scrap_page(page, url, ctx)) get a
    ScrapingContext built per row; the three-column variant also takes
    the host's rules-as-data array so ctx.robot() works."""
    if isinstance(spec, str):
        spec = SPECS[spec]
    scrap = spec.scrap_page
    wants_ctx = spec_wants_context(spec)
    # whole-document inner_text needs no DOM: stream the tokenizer's
    # data events instead (byte-identical, see dom.stream_fulltext)
    fulltext = spec.name == "fulltext" and scrap is _FULLTEXT_SCRAP

    def _run_batch(url, html, rules=None, loc_kind=None):
        from pyspark import TaskContext

        tc = TaskContext.get()
        worker_id = tc.partitionId() if tc is not None else 0
        from swspark.robots import compile_raw_rules

        records_out, urls_out, errors_out = [], [], []
        rules_iter = rules if rules is not None else [None] * len(url)
        kind_iter = (
            loc_kind if loc_kind is not None else [None] * len(url)
        )
        for u, h, rl, lk in zip(url, html, rules_iter, kind_iter):
            try:
                if h is None:
                    raise ValueError("null html")
                if fulltext:
                    recs, urls = [[stream_fulltext(h)]], []
                elif wants_ctx:
                    robot = compile_raw_rules(rl) if rl is not None else None
                    recs, urls = scrap(
                        Html.parse_document(h), u,
                        ScrapingContext(u, worker_id, robot,
                                        location_kind=lk),
                    )
                else:
                    recs, urls = scrap(Html.parse_document(h), u)
                records_out.append(recs)
                urls_out.append(urls)
                errors_out.append(None)
            except Exception as exc:  # scrape error -> policy column
                records_out.append(None)
                urls_out.append(None)
                errors_out.append(f"{type(exc).__name__}: {exc}")
        return pd.DataFrame(
            {"records": records_out, "urls": urls_out, "error": errors_out}
        )

    if wants_ctx:

        @F.pandas_udf(EXTRACT_RESULT_TYPE)
        def extract(url: pd.Series, html: pd.Series, rules: pd.Series,
                    loc_kind: pd.Series) -> pd.DataFrame:
            return _run_batch(url, html, rules, loc_kind)

    else:

        @F.pandas_udf(EXTRACT_RESULT_TYPE)
        def extract(url: pd.Series, html: pd.Series) -> pd.DataFrame:
            return _run_batch(url, html)

    return extract


def with_extraction(df, spec: ExtractionSpec | str, url_col: str = "url",
                    html_col: str = "html"):
    """pages df -> the same rows plus ``_ex``, the spec's extraction
    result struct (records, urls, error). Unpersisted, every action on
    a frame ``apply_extraction`` projects from it re-runs the UDF; the
    crawl driver and ``swspark scrap`` persist it once instead."""
    if isinstance(spec, str):
        spec = SPECS[spec]
    udf = make_extract_udf(spec)
    if spec_wants_context(spec):
        # ctx.robot() reads the host's rules-as-data column when the
        # caller joined it (swspark.robots.build_robots_rules_table);
        # otherwise the context carries robot=None. ctx.location()
        # reads the source-stamped location_kind column (glob/WARC
        # sources stamp PATH; crawled pages default to URL).
        rules_col = (
            F.col("rules") if "rules" in df.columns
            else F.lit(None).cast(
                "array<struct<allow:boolean,pattern:string>>"
            )
        )
        kind_col = (
            F.col("location_kind") if "location_kind" in df.columns
            else F.lit(None).cast("string")
        )
        return df.withColumn(
            "_ex", udf(F.col(url_col), F.col(html_col), rules_col, kind_col)
        )
    return df.withColumn("_ex", udf(F.col(url_col), F.col(html_col)))


def apply_extraction(df, spec: ExtractionSpec | str, url_col: str = "url",
                     html_col: str = "html"):
    """pages df -> (records_df, discovered_urls_df, errors_df).

    records_df: one row per sendRecord, columns = url + spec.fields
    (explode of the records array, field names pinned).
    discovered_urls_df: one row per sendUrl (url, discovered_url) —
    the feedback edge (interop.rs:317-324, CountedTx scrapable.rs:123-144).
    errors_df: (url, error) for the OnError policy.

    All three are projections of one ``_ex`` column. A ``df`` that
    already carries it (``with_extraction``, typically persisted) is
    projected as is; otherwise ``_ex`` is added here, and every action
    on any of the three re-runs the UDF.
    """
    if isinstance(spec, str):
        spec = SPECS[spec]
    base = df if "_ex" in df.columns else with_extraction(
        df, spec, url_col, html_col
    )
    rec = base.select(url_col, F.explode("_ex.records").alias("_r"))
    rec = rec.select(
        url_col,
        *[F.col("_r").getItem(i).alias(name) for i, name in enumerate(spec.fields)],
    )
    urls = base.select(
        url_col, F.explode("_ex.urls").alias("discovered_url")
    )
    errs = base.select(url_col, F.col("_ex.error").alias("error")).where(
        F.col("error").isNotNull()
    )
    return rec, urls, errs
