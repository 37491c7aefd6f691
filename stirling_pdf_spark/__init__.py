"""stirling_pdf_spark — a from-scratch PySpark-native extraction engine.

Reimplements the extraction semantics of Stirling-Tools/Stirling-PDF
(reference snapshot at /root/reference, studied for behavior only) as
idiomatic PySpark: DataFrame/SQL plans for everything relational, and a
single vectorized Arrow/pandas UDF stage for the per-document span
extraction kernel (reading-order reconstruction, line/word clustering,
column layout, media/attachment enumeration, HTML boilerplate strip).

Layout:
  kernel/     pure-Python extraction kernel (UDF body == test oracle)
  corpus/     deterministic interleaved-document corpus synthesis
  operators/  Spark operators (extraction pipeline, analytics, dedup,
              similarity, text analysis, document structure)
  sources/    table readers (parquet; Iceberg behind an import-try)
  functions/  shared column expressions
  runtime/    metrics, lineage, resume
  spans.py    the span table's Arrow codec and per-document stage
"""

from ._worker_imports import install as _install_worker_imports

__version__ = "0.1.0"

# Spark Python workers import this package before running its code
_install_worker_imports()
