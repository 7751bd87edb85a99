"""baseline_magician_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
FastNetMon/baseline_magician (reference: /root/reference), re-expressed
Spark-first:

- the reference's per-network loop of N sequential global aggregates
  (reference main.go:215-287) becomes ONE broadcast range-join +
  ``groupBy(network)`` pass (:mod:`.plans.baseline`);
- the govaluate scalar expression language (reference
  vendor/github.com/Knetic/govaluate) becomes a compiler emitting
  ``pyspark.sql.Column`` trees so Catalyst folds/codegens them
  (:mod:`.expr`);
- the ClickHouse SQL function surface becomes a shim registry of
  Column builders (:mod:`.functions.ch_compat`);
- the columnar block/stream model of the ClickHouse driver maps onto
  Spark's vectorized Parquet reader + ColumnarBatch — nothing to build.

Beyond the reference surface, :mod:`.operators` adds the large-scale
training-data-pipeline operators (dedup, similarity search, text
analysis, multimodal columns) designed for 100 TB scale.
"""

__version__ = "0.1.0"

# Python workers import this package for every engine kernel; from then
# on their tasks stop re-reading each zip on sys.path (see pyship).
from .pyship import patch_zipimport_invalidate as _patch_zipimport

_patch_zipimport()
