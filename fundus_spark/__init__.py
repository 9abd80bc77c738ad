"""fundus_spark — a from-scratch PySpark-native article-extraction engine
with the query/data-processing capabilities of flairNLP/fundus.

Layout:
    kernel/     pure-Python extraction (DOM, XPath/CSS, JSON-LD, body,
                images, generics) — zero Spark imports
    rules/      declarative per-publisher parser specs + registry
    plans/      Spark pipeline stages (Arrow-boundary extraction, window
                reassembly, lineage/metrics, checkpoint/resume, skew)
    operators/  large-scale data ops (dedup, similarity, text stats)
    sources/    transcripts fixtures/readers
    streaming/  Structured Streaming wrapper around the same stages
"""

__version__ = "0.1.0"
