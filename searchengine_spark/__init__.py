"""searchengine_spark — a PySpark-native inverted-index builder + BM25 top-k
query engine over tables of multi-turn conversation / agent transcripts.

Re-expresses the computations of the reference full-text engine
(ZdsAlpha/SearchEngine: Repository/Indexer/Engine pipeline, see SURVEY.md)
as idiomatic Spark DataFrame programs:

- tokenize turn text with vectorized Arrow (pandas) UDFs,
- per-doc term-frequency vectors (forward index),
- corpus statistics (df, cf, N, avgdl),
- per-partition compressed posting-list segments
  (delta + varint docID gaps, block-max metadata, salting for skewed terms),
- BM25 / reference-formula top-k retrieval (exhaustive relational plan and
  a per-shard dense numpy scorer over the segments),
- manifest-driven resumable builds with per-partition lineage + metrics.

No RDDs, no custom Catalyst rules, no per-row Python UDFs.
"""

__version__ = "0.1.0"

from searchengine_spark.session import get_spark  # noqa: F401
