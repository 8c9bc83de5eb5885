"""PySpark-native analytics engine with the query and data-processing
capabilities of the Healthcare-AWS-Data_engineering reference pipeline.

Layers (mirrors SURVEY.md §7.1):

- :mod:`.sources`   — scans/sinks (FHIR bundle JSON, parquet tables, CSV labs).
- :mod:`.functions` — scalar column-expression builders (FHIR extraction
  ladders, clinical banding, penalty scoring, date math, linear fit).
- :mod:`.operators` — reusable relational operators (latest-per-key, max-case
  pivot, keyed dedup, top-k, monthly rollup) plus large-scale training-data
  extensions (MinHash/SimHash dedup, ANN similarity, text analysis).
- :mod:`.plans`     — full query plans (ETL, report queries, ad-hoc surface,
  feature table).
- :mod:`.ml`        — broadcast-parameter ML inference (impute/scale/PCA/
  KMeans column math, XGBoost pandas_udf scoring).
- :mod:`.streaming` — incremental ingest (Structured Streaming availableNow =
  Glue job-bookmark parity).

Everything is expressed with the DataFrame API / Spark SQL so Catalyst can
push filters, prune columns and pick join strategies; Python UDFs appear only
where semantics genuinely require them (Arrow-batched, never per-row).

Importing the package inside a Python worker task (as unpickling any
package UDF does) turns ``zipimport.zipimporter.invalidate_caches`` into a
no-op for the life of that worker, on CPython before 3.13. PySpark calls
``importlib.invalidate_caches()`` at the start of every task, and on those
versions that re-reads the central directory of every zip on the worker's
``sys.path`` (pyspark.zip and the Spark jars): about 0.17 s of CPU per task,
twice the XGBoost scoring itself. Those archives never change while a
worker lives, and a zip added later gets a new importer. The driver is
left untouched.
"""

import sys

__version__ = "0.1.0"


def _keep_zip_directories(self) -> None:
    """Stand-in for ``zipimporter.invalidate_caches`` on Python workers."""


if sys.version_info < (3, 13):
    from pyspark import TaskContext

    if TaskContext.get() is not None:
        import zipimport

        zipimport.zipimporter.invalidate_caches = _keep_zip_directories
