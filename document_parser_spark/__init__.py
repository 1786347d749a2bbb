"""document_parser_spark — a from-scratch PySpark-native document-to-markdown
extraction engine with the capabilities of YourCarma/document-parser, built
Spark-first (DataFrame + Arrow-batched pandas UDFs whose kernels are the
refparser oracle functions).

Layout:
  config        shared constants (char tables, thresholds) — the contract
  refparser     pure-Python single-document oracle (defines correctness)
  functions     column-level kernels (cleaning, text analysis)
  sources       table IO seam (parquet now, Iceberg when jar present), synth
  operators     explode/reassembly, HTML/PDF parse kernels, serializer,
                dedup, similarity search, multimodal plumbing
  plans         end-to-end pipeline + lineage/restart
  streaming     foreachBatch wrapper over the same batch pipeline
"""

__version__ = "0.1.0"
