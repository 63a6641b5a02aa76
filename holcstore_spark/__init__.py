"""holcstore_spark — a PySpark-native time-series analytics engine.

A brand-new engine with the query and data-processing capabilities of
jpl-holmium/holcstore (a Django/pandas "load curve" store), re-architected
for Spark: series live as long-format ``(business keys…, ts, value)``
Parquet tables partitioned by calendar chunk, and every reference operation
is a composable DataFrame operator backed by Catalyst's pruning, pushdown
and vectorized execution.

Layout
------
- ``session``    — tuned local SparkSession factory
- ``config``     — store descriptors (keys, freq, tz, chunk axis)
- ``functions``  — scalar column helpers (chunk index, null-safe eq, tz)
- ``plans``      — predicate translation (Django-ish lookups → Column) and
                   partition-pruning derivation (ts bounds → chunk bounds)
- ``operators``  — pure DataFrame→DataFrame operators: overlay merge,
                   gaps-and-islands, dense grid/completeness, interval
                   algebra, slicing, resample/disaggregate, versioning,
                   dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
                   similarity search (brute-force + hyperplane-LSH ANN),
                   text analysis (stats, lang-id, quality, BPE-ish
                   tokens), multimodal binary-column plumbing
- ``sources``    — the three store classes (KeyValueStore, AttrStore,
                   ChunkStore) on one transaction-log layout
                   (``sources/txlog.py``: atomic commits, optimistic
                   multi-writer concurrency, manifest file skipping,
                   ``history()`` / ``time_travel`` / ``changes_between``
                   / ``vacuum``); ``convert_to_acid`` copies a store of
                   the retired plain layout into it, and
                   ``upgrade_format`` moves an older format of it over
                   in place
- ``streaming``  — incremental sync (change feed / pull client),
                   Structured Streaming ingestion (foreachBatch →
                   ingest_long; watermarked windowed rollups), and the
                   CDC source (``cdf_source.py``: the transaction log as
                   a readStream with commit-version offsets)
- ``edge``       — pandas bridge (pd.Series ⇄ long DataFrame) and the
                   CSV/ZIP admin export sink
"""

from holcstore_spark.config import ChunkStoreConfig
from holcstore_spark.session import get_spark
from holcstore_spark.sources.convert import convert_to_acid, upgrade_format

__version__ = "0.1.0"

__all__ = [
    "get_spark", "ChunkStoreConfig", "convert_to_acid", "upgrade_format",
    "__version__",
]
