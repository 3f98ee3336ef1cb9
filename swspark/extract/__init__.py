"""HTML parsing, CSS-selector matching, and text/HTML extraction.

Pure-Python reimplementation of the reference's scraping surface
(crates/sws-scraper + crates/sws-tree), designed to run *inside*
vectorized Arrow pandas UDFs — the DOM never becomes a Spark type
(SURVEY.md §1.1). stdlib-only: html.parser, no bs4/lxml.
"""

from swspark.extract.dom import Html, Node, NodeKind
from swspark.extract.selectors import Selector, select
from swspark.extract.udf import make_extract_udf

__all__ = [
    "Html",
    "Node",
    "NodeKind",
    "Selector",
    "select",
    "make_extract_udf",
]
