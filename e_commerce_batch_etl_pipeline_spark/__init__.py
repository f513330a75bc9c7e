"""PySpark-native CDC / incremental-ingest engine.

A from-scratch engine with the query and data-processing capabilities of
``tishant24/E-Commerce-Batch-ETL-Pipeline`` (studied at /root/reference),
re-expressed Spark-first per SURVEY.md:

- ``tables``     — Iceberg-shaped lake table format (snapshot manifests,
                   atomic pointer swap, fence-set idempotency, schema
                   evolution as metadata-only DDL).
- ``sources``    — schema-pinned CSV reader, WAL segment scan with LSN
                   watermark, deterministic datagen, lakefeed/WAL data
                   sources.
- ``operators``  — LWW dedup (``max_by`` + salted two-stage), MERGE
                   upsert, near-dup family (minhash-LSH/simhash/jaccard),
                   similarity search, as-of and range joins.
- ``functions``  — vectorized token validation (Arrow/pandas UDF), text
                   analysis, multimodal column plumbing.
- ``streaming``  — the epoch microbatch loop: checkpointed replay with
                   per-partition lineage + metrics, exactly-once commits.
- ``plans``      — physical-plan assertions (no per-row Python, pushdown,
                   broadcast) used by tests/CI.
- ``etl``        — the reference pipeline's per-batch transform semantics
                   (rename/cast/filter/dedup/derive/enrich/DQ-gate).
"""

__version__ = "0.1.0"
