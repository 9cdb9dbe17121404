"""shmr_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of binh-vu/shmr, re-expressed Spark-first.

The reference (/root/reference, ~900 LoC) is a CLI of high-order
map-reduce operators over newline-delimited file partitions
(see SURVEY.md). This package maps every operator onto the Spark
DataFrame/Catalyst stack:

- ``shmr_spark.dataset.Dataset``      — fluent operator surface (map,
  flat_map, filter, distinct, reduce, reduce_by_key, split_by_key,
  join, coalesce, concat, count, head, apply)
- ``shmr_spark.sources``              — parquet/json/csv/text loaders
  (gz/bz2 transparent, glob inputs) mirroring shmr's codec surface
- ``shmr_spark.functions``            — built-in helper functions
  (hashing, text analysis, vector math)
- ``shmr_spark.dedup`` / ``similarity`` — LLM-data-pipeline extensions
  (exact/minhash/simhash dedup, cosine top-k ANN)
- ``shmr_spark.streaming``            — event-time windows, Structured
  Streaming variants
- ``shmr_spark.compat``               — reference-exact semantics
  (opaque Python fns, 1-arg reduce seeding) via mapInPandas

Design stance (SURVEY.md §7.1): native Column expressions everywhere
so Catalyst optimizes; opaque-fn compat tier kept separate; no
collect() in operator paths; AQE-friendly; 100 TB-scale hygiene.
"""

from shmr_spark.pyship import skip_unchanged_zip_rereads

skip_unchanged_zip_rereads()

from shmr_spark.session import get_spark  # noqa: E402
from shmr_spark.catalog import load_table, load_tables  # noqa: E402
from shmr_spark.dataset import Dataset  # noqa: E402

__version__ = "0.1.0"

__all__ = ["get_spark", "load_table", "load_tables", "Dataset", "__version__"]
