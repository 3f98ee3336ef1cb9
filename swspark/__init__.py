"""swspark — a PySpark-native crawl scheduler + web-text analytics engine.

A from-scratch reimagining of the capabilities of lerouxrgd/sws
(/root/reference, a Rust sitemap-driven scraper) as a batch-wave Spark
pipeline over Common-Crawl-style page tables:

- sitemap expansion (sitemapindex/urlset, gzip)          -> swspark.sitemaps
- robots.txt politeness (RFC 9309 subset, Crawl-delay)   -> swspark.robots
- URL canonicalization + hashing                         -> swspark.urlnorm
- exact URL-seen set (bucketed anti-join dedup)          -> swspark.seen
- per-host politeness budgets + window-rank scheduling   -> swspark.scheduler
- frontier  |x|  pages fetch simulation + metrics        -> swspark.fetch
- HTML DOM + CSS-selector extraction (Arrow UDF)         -> swspark.extract
- snapshot-parquet table layer (Iceberg-style)           -> swspark.tables
- crawl driver loop + wave commit / lineage / resume     -> swspark.driver
- WARC source/sink, file-glob + single-page sources      -> swspark.{warc,sources}
- training-data ops (dedup, ANN, text quality, langid)   -> swspark.{dedup,simsearch,textops,multimodal}

Everything dataframe-level uses built-in pyspark.sql.functions; Python
runs only inside vectorized Arrow/pandas UDFs (never per-row UDFs).
"""

__version__ = "0.1.0"
