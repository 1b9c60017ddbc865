"""lucille_spark — a PySpark-native Search-ETL + inverted-index/BM25 engine.

A from-scratch reimplementation of the capabilities of kmwtechnology/lucille
(reference surveyed in SURVEY.md), built Spark-first:

- ingest plane: connectors/file handlers -> Document DataFrame; enrichment
  stages -> declarative column transformations (``lucille_spark.pipeline``).
- index plane (replaces the Solr/ES/OpenSearch hand-off the reference makes):
  tokenize -> (term, doc_ord, tf, positions) -> salted sort-by-term shuffle ->
  delta + varbyte compressed posting blocks with block-max metadata
  (``lucille_spark.index``).
- query plane: Lucene-classic-subset parser, posting intersection/union,
  BM25 scoring, exact block-max top-k (``lucille_spark.query``).
- training-data ops: dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard),
  ANN similarity search, text analysis (``lucille_spark.ml``).
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
BLOCK_SIZE = 128
