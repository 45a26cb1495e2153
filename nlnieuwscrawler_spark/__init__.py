"""nlnieuwscrawler_spark — a PySpark-native web-crawl scheduler & analytics engine.

A from-scratch, Spark-first engine with the query/data-processing
capabilities of the reference crawler ``RoelvandenBerg/nlnieuwscrawler``
(reference behaviors per BASELINE.json north_star; the reference mount was
empty this session — see SURVEY.md §0), re-expressed over DataFrames:

- URL canonicalization + MurmurHash3 fingerprinting as native Catalyst
  expressions (no UDF) — :mod:`nlnieuwscrawler_spark.functions.urls`
- partitioned Bloom URL-seen set (DataFrame-backed, executor-side
  build/merge/probe) with exact anti-join confirm —
  :mod:`nlnieuwscrawler_spark.operators.seen`
- robots.txt first-match semantics via higher-order array functions —
  :mod:`nlnieuwscrawler_spark.operators.robots`
- per-host politeness budgets + priority ranking via windows —
  :mod:`nlnieuwscrawler_spark.operators.politeness`
- fetch simulation as an as-of join against a Common-Crawl-style pages
  table — :mod:`nlnieuwscrawler_spark.operators.asof`
- deterministic HTML extraction as an Arrow-vectorized pandas UDF —
  :mod:`nlnieuwscrawler_spark.functions.extract`
- snapshot checkpoint/resume with per-partition lineage —
  :mod:`nlnieuwscrawler_spark.sources.tableio`
- training-data ops: dedup (exact / MinHash-LSH / SimHash / n-gram
  Jaccard), ANN similarity, text quality — :mod:`nlnieuwscrawler_spark.operators`
"""

__version__ = "0.1.0"
