"""web_scrapers_python_spark — a PySpark-native crawl/analytics engine.

A brand-new distributed URL-frontier + fetch-scheduler + parser layer
with the query and data-processing capabilities of
``tsrdatatech/web-scrapers-python`` (reference snapshot read at
/root/reference), re-expressed Spark-first:

- DataFrame/SQL plans optimized by Catalyst + AQE; no RDDs.
- Parsers as Arrow-vectorized pandas UDFs (no per-row Python).
- An append-only URL-seen event log + exact anti-join dedup.
- Per-host politeness budgets as salted window top-k.
- Snapshot-checkpointed state tables (Iceberg semantics; parquet
  snapshot emulation in this sandbox — see ``sources.catalog``).

Package map:
  functions/  scalar column expressions (hashing, cleaning, analysis)
  oracle/     pure-Python transcription of the reference semantics
              (test-time golden; also reused inside parse UDFs where
              byte-identity with Python `re` is required)
  sources/    seed readers, snapshot catalog, synthetic page datagen
  operators/  dedup, politeness, link expansion, parsers, text ops, ANN
  plans/      the per-round DataFrame job + the driver crawl loop
  streaming/  Structured Streaming variants (metrics over event streams)
"""

__version__ = "0.1.0"
