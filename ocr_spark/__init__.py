"""ocr_spark — a PySpark-native main-content extraction engine.

Brand-new implementation with the computational shape of the reference OCR
pipeline (document blob -> streaming tokenization -> hierarchical
segmentation -> block classification -> ordered text assembly -> quality
metrics), re-expressed Spark-first over Common-Crawl-style page tables.

Layout:
  core/       pure-Python extraction core (shared by oracle + pandas UDFs)
  operators/  dedup / similarity / text-analysis / multimodal operators
  sources/    IO layer (parquet now, iceberg-shaped interface)
  functions/  column-expression helpers (bucketing, salting, normalization)
  plans/      end-to-end pipeline assembly (extract job, lineage, resume)
  streaming/  structured-streaming analogs (sessionization, ingest)
  queries/    driver-facing operator queries + DuckDB oracle SQL

Importing the package installs the stamp-checked zip directory cache
(``zipcache.py``): a Python worker imports it when it unpickles any of
the package's UDFs.
"""

from ocr_spark import zipcache

zipcache.install()

__version__ = "0.1.0"
