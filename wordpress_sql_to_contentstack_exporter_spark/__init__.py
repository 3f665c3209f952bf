"""PySpark-native analytics/ETL engine with the capabilities of
contentstack/wordpress-sql-to-contentstack-exporter, rebuilt Spark-first.

The reference (see /root/reference, SURVEY.md) is a Node.js batch ETL:
MySQL (WordPress schema) -> SQL extraction -> row-wise scalar transforms ->
keyed-JSON document sinks + HTTP asset download with retry and dead-letter.

This package re-expresses those capabilities as idiomatic PySpark:

- ``sources``    — JDBC / parquet catalog, ID-list file source, HTTP asset plane
- ``operators``  — relational ops (joins, EAV pivot, decorrelated aggregates,
                   hierarchy), plus large-scale training-data ops (dedup,
                   similarity search, text analysis, multimodal plumbing)
- ``functions``  — scalar column expressions (slugify, host-strip, permalink
                   template compiler, ISO dates) — all JVM-side, no Python UDFs
                   in the hot path
- ``plans``      — the WordPress export modules (assets, authors,
                   categories, posts; run concurrently) and contenttype
                   schema validation
- ``sinks``      — keyed-JSON document sink, master/locale mappings, DLQ
- ``streaming``  — incremental (Trigger.AvailableNow) export

Everything is DataFrame-first so Catalyst handles pushdown, pruning, join
selection and AQE; designed for multi-executor scale even though tests run
on local[*].
"""

__version__ = "0.1.0"
