"""biosample_enricher_spark — a PySpark-native schema + constraint
validation engine.

Re-expresses the data-processing semantics of
``contextualizer-ai/biosample-enricher`` (reference at
``/root/reference``, read-only) as a declarative constraint suite over
tables of interleaved text+media documents:

- per-column statistics (null-rate, min/max, approx distinct via HLL,
  quantiles via percentile sketches) — analog of the reference's schema
  profiler (``biosample_enricher/schema_statistics.py``),
- uniqueness of ``doc_id`` via salted two-stage hash aggregation —
  analog of the reference's ID-dedup semantics (``adapters.py:327-338``),
- referential integrity of ``media_ref`` against an asset catalog via
  one left-anti join whose strategy Spark picks from the catalog's size
  (broadcast while it is small) — analog of cross-collection ``$in``
  lookups (``adapters.py:610-640``),
- distribution-drift detection with two-sample KS statistics over
  span-length and kind-frequency histograms — analog of before/after
  coverage deltas (``metrics/reporter.py``, ``weather/metrics.py``),
- per-row span-sequence integrity via a single vectorized Arrow UDF
  emitting violation rows ``(partition_id, doc_id, constraint_id,
  field, message)`` — analog of pydantic validation error rows
  (``synthetic_validation_demo.py:82-94``),
- checkpointed, partition-granular resumability — analog of the
  reference's idempotent read-through HTTP cache (``http_cache.py``).

Everything is DataFrame/SQL + vectorized Arrow UDFs; no per-row Python.
"""

__version__ = "0.1.0"
