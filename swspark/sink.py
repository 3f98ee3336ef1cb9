"""Record sinks.

The reference has a single-threaded CSV writer fed by a channel
(A8 — scraper.rs:129-171, writer.rs:5-116): headerless, flexible
arity, configurable dialect (delimiter / escape / terminator), file
modes Create/Append/Truncate. Here the sink is a distributed
``df.write.csv`` — per-partition streams replace the writer thread;
ordering within the output is nondeterministic in both systems
(crawler.rs:167 buffer_unordered).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",  # Truncate ≙ overwrite, Append ≙ append (writer.rs:92-116)
    delimiter: str = ",",
    escape: str | None = None,
    terminator: str | None = None,
    header: bool = False,
) -> None:
    w = (
        df.write.mode(mode)
        .option("header", "true" if header else "false")
        .option("sep", delimiter)
        .option("emptyValue", "")
    )
    if escape is not None:
        # writer.rs:28-38: setting an escape char turns double-quote
        # escaping off in favor of backslash-style escaping.
        w = w.option("escape", escape)
    if terminator is not None:
        w = w.option("lineSep", terminator)
    w.csv(path)


def _csv_writer(stream, delimiter: str, escape: str | None, terminator: str):
    import csv

    return csv.writer(
        stream,
        delimiter=delimiter,
        quoting=csv.QUOTE_MINIMAL,
        # writer.rs:28-38: setting an escape char turns double-quote
        # escaping OFF in favor of escape-char escaping
        doublequote=escape is None,
        escapechar=escape,
        lineterminator=terminator,
    )


def format_csv_lines(
    df: DataFrame,
    array_col: str = "fields",
    delimiter: str = ",",
    escape: str | None = None,
) -> DataFrame:
    """Flexible-arity CSV (writer.rs:9-12 ``flexible: true``): each
    row's array<string> becomes one CSV-formatted line, whatever its
    length. Vectorized per Arrow batch; the heavy work (quoting) runs
    on executors, so the distributed text write stays parallel."""

    @F.pandas_udf("string")
    def fmt(rows: pd.Series) -> pd.Series:
        import io

        buf = io.StringIO()
        w = _csv_writer(buf, delimiter, escape, "\n")
        out = []
        for r in rows:
            buf.seek(0)
            buf.truncate(0)
            w.writerow(["" if x is None else x for x in r])
            out.append(buf.getvalue()[:-1])
        return pd.Series(out)

    return df.select(fmt(F.col(array_col)).alias("value"))


def write_csv_flexible(
    df: DataFrame,
    path: str,
    array_col: str = "fields",
    mode: str = "overwrite",
    delimiter: str = ",",
    escape: str | None = None,
    terminator: str | None = None,
) -> None:
    """Variable-arity record sink (the reference's headerless flexible
    CSV): df carries an array<string> column; arity may vary per row."""
    lines = format_csv_lines(df, array_col, delimiter, escape)
    w = lines.write.mode(mode)
    if terminator is not None:
        w = w.option("lineSep", terminator)
    w.text(path)


def write_csv_stdout(
    df: DataFrame,
    delimiter: str = ",",
    escape: str | None = None,
    terminator: str = "\n",
) -> int:
    """Stream records to stdout — the reference's default sink when no
    ``-o`` is given (scraper.rs:131-171 CsvWriter::Stdout). Inherently
    driver-side in both systems; toLocalIterator bounds driver memory
    to one partition at a time. Returns the row count."""
    import sys

    w = _csv_writer(sys.stdout, delimiter, escape, terminator)
    n = 0
    for row in df.toLocalIterator():
        w.writerow(["" if v is None else v for v in row])
        n += 1
    return n
