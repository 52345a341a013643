"""opensearch_spark — a PySpark-native full-text analytics engine.

A from-scratch rebuild of the core indexing + query capabilities of the
OpenSearch/Lucene reference (see SURVEY.md):

- ``analysis``   — standard-analyzer tokenization (UAX#29 subset + lowercase)
                   as vectorized Arrow/pandas UDFs.
- ``index``      — distributed inverted-index construction: per-segment
                   (term, docId, tf, positions) posting lists, sorted and
                   delta+varint compressed into 128-doc blocks with
                   block-max impact metadata; one manifest.json commit
                   point lists every live file.
- ``search``     — query DSL (match / bool / phrase / term-level) -> AST ->
                   DataFrame plans; BM25 (k1=1.2, b=0.75) top-k with
                   block-max impact pruning inside per-segment Arrow UDFs.
- ``relational`` — the aggregation / filter facade (terms, histograms,
                   stats, pipeline aggs) as pure Catalyst plans.
- ``pipelines``  — training-data ops: dedup (exact / MinHash-LSH / SimHash /
                   n-gram Jaccard), similarity search, text quality stats,
                   multimodal column plumbing.
- ``streaming``  — Structured Streaming incremental index maintenance.

Everything here derives from public knowledge only: the Apache Spark API,
the published Lucene/BM25 algorithms, and observation of the reference
repo's behavior. No code is copied from the reference (it is a Java
engine; this is an independent Spark-first design).
"""

__version__ = "0.1.0"

from opensearch_spark.session import get_spark  # noqa: F401
