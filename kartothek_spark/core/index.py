"""Secondary inverted indices as Parquet-backed DataFrames.

Parity target: ``ExplicitSecondaryIndex`` (``kartothek/core/index.py:43-955``
in the reference) — ``Map[value → List[partition_label]]`` persisted as its
own Parquet file, used at plan time to prune the file list *before* any data
is read. Spark-first realization:

* build = one distributed job: ``groupBy(value).agg(collect_set(label))``
  (map-side partial aggregation → a single shuffle on the indexed column);
* store = a Parquet table ``(value, partitions: array<string>)`` under
  ``<uuid>/indices/<col>/<version>.by-dataset-index.parquet``;
* query = answered on the driver with ``pyarrow.dataset``: the
  conjunction's literals become one ``pyarrow.compute`` filter on
  ``value``, only the ``partitions`` column of matching rows is read, and
  labels are folded into a set batch by batch — no Spark job on the
  planning path, and driver memory is bounded by one record batch plus
  the distinct matching labels (never the whole index, unlike the
  reference's full dict load). Types whose Spark comparison has no exact
  Arrow rendering — float/double (Spark's NaN equals itself and sorts
  above every number), timestamps (a naive ``datetime`` literal is
  resolved in the process-local timezone) and decimals — and literals
  that are not of the column's exact Python type keep the distributed
  Spark filter;
* maintenance = anti-join removed labels / union new pairs, copy-on-write
  to a new index file; the manifest pointer swap publishes it.
"""

from __future__ import annotations

import datetime
import operator
import os
import uuid as _uuid
from typing import TYPE_CHECKING, Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kartothek_spark.core.urlencode import decode_file_uri_column

if TYPE_CHECKING:
    from kartothek_spark.core.manifest import DatasetManifest

INDEX_SUFFIX = ".by-dataset-index.parquet"


def _file_label_df(spark: SparkSession, manifest: "DatasetManifest", labels: Sequence[str] | None = None) -> DataFrame:
    """Tiny (file_uri → label) mapping, broadcast into the index job."""
    labels = list(manifest.partitions) if labels is None else list(labels)
    rows = [(os.path.abspath(manifest.file_path(lbl)), lbl) for lbl in labels]
    return spark.createDataFrame(rows, "file_path string, __ktk_label string")


def _pairs_df(spark: SparkSession, manifest: "DatasetManifest", column: str, labels: Sequence[str] | None = None) -> DataFrame:
    """(value, label) pairs for an indexed column over the given partitions."""
    labels = list(manifest.partitions) if labels is None else list(labels)
    if not labels:
        field = next(f for f in manifest.schema.fields if f.name == column)
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [], T.StructType([field, T.StructField("__ktk_label", T.StringType())])
        )
    if column in manifest.partition_keys:
        # partition-key index needs no data read: values come from labels
        rows = [(manifest.partition_values(lbl)[column], lbl) for lbl in labels]
        from pyspark.sql import types as T

        field = next(f for f in manifest.schema.fields if f.name == column)
        return spark.createDataFrame(
            rows, T.StructType([field, T.StructField("__ktk_label", T.StringType())])
        )
    mapping = _file_label_df(spark, manifest, labels)

    # the format-dispatched manifest scan (explicit schema: files from
    # before a schema evolution may lack the indexed column entirely —
    # they read as NULL and the isNotNull below keeps them out of the
    # index, matching reference build_indices dropna semantics). Function
    # -level import: read.py imports this module at its top level.
    from kartothek_spark.dataset.read import _scan_files

    df = (
        _scan_files(spark, manifest, manifest.files(labels))
        .select(
            F.col(column),
            # input_file_name() yields a percent-encoded file:///… URI —
            # decode to the on-disk path so it joins against the manifest
            # mapping even when partition values contain ':'/' '/'%'
            decode_file_uri_column(F.input_file_name()).alias("file_path"),
        )
        .where(F.col(column).isNotNull())
    )
    return (
        df.join(F.broadcast(mapping), "file_path")
        .select(column, "__ktk_label")
    )


def _index_path(manifest: "DatasetManifest", column: str) -> str:
    version = _uuid.uuid4().hex[:12]
    return os.path.join(manifest.dataset_uuid, "indices", column, version + INDEX_SUFFIX)


def _write_index(pairs: DataFrame, manifest: "DatasetManifest", column: str) -> str:
    rel = _index_path(manifest, column)
    out = (
        pairs.groupBy(column)
        .agg(F.collect_set("__ktk_label").alias("partitions"))
        .withColumnRenamed(column, "value")
    )
    out.write.mode("overwrite").parquet("file:" + os.path.abspath(os.path.join(manifest.root, rel)))
    return rel


def build_index(spark: SparkSession, manifest: "DatasetManifest", column: str) -> str:
    """Full (re)build — reference X5 ``build_dataset_indices``."""
    return _write_index(_pairs_df(spark, manifest, column), manifest, column)


def load_index(spark: SparkSession, manifest: "DatasetManifest", column: str) -> DataFrame:
    """Index table as (value, partitions array)."""
    rel = manifest.indices[column]
    return spark.read.parquet("file:" + os.path.abspath(os.path.join(manifest.root, rel)))


def update_index(
    spark: SparkSession,
    manifest: "DatasetManifest",
    column: str,
    new_labels: Sequence[str],
    removed_labels: Sequence[str],
) -> str:
    """Incremental maintenance (reference X2 ``IndexBase.update /
    remove_partitions``): explode old index, drop removed labels, union new
    pairs, re-group, write a new version (copy-on-write)."""
    old = (
        load_index(spark, manifest, column)
        .select(F.col("value").alias(column), F.explode("partitions").alias("__ktk_label"))
    )
    if removed_labels:
        old = old.where(~F.col("__ktk_label").isin(list(removed_labels)))
    pairs = old
    if new_labels:
        pairs = pairs.unionByName(_pairs_df(spark, manifest, column, new_labels))
    return _write_index(pairs, manifest, column)


# Arrow value type → the Python literal type the driver lookup compares it
# with exactly as Spark would. Anything else (float/double, timestamp,
# decimal, ...) takes the Spark filter.
def _driver_literal_check(value_type: pa.DataType):
    if pa.types.is_signed_integer(value_type):
        return lambda v: type(v) is int and -(2**63) <= v < 2**63
    if pa.types.is_string(value_type) or pa.types.is_large_string(value_type):
        return lambda v: type(v) is str
    if pa.types.is_boolean(value_type):
        return lambda v: type(v) is bool
    if pa.types.is_date32(value_type):
        return lambda v: type(v) is datetime.date
    if pa.types.is_binary(value_type) or pa.types.is_large_binary(value_type):
        return lambda v: type(v) is bytes
    return None


_ARROW_OPS = {
    "==": operator.eq,
    "!=": operator.ne,
    "<": operator.lt,
    "<=": operator.le,
    ">": operator.gt,
    ">=": operator.ge,
}


def _driver_filter(value_type: pa.DataType, literals: Sequence[tuple]):
    """One ``pyarrow.compute`` expression ANDing the literals on ``value``,
    or None when some literal has no exact driver rendering."""
    exact = _driver_literal_check(value_type)
    if exact is None:
        return None
    value = pc.field("value")
    expr = None
    for _c, op, v in literals:
        if op == "in":
            vals = list(v)
            if not all(exact(x) for x in vals):
                return None
            term = value.isin(pa.array(vals)) if vals else pc.scalar(False)
        elif op in _ARROW_OPS and exact(v):
            term = _ARROW_OPS[op](value, v)
        else:
            return None
        expr = term if expr is None else expr & term
    return expr


def _spark_query_labels(
    spark: SparkSession,
    manifest: "DatasetManifest",
    column: str,
    literals: Sequence[tuple],
) -> set[str]:
    """Distributed filter over the index table, labels-only collect."""
    from kartothek_spark.core.predicates import predicates_to_column

    idx = load_index(spark, manifest, column)
    preds = [[("value", op, v) for (_c, op, v) in literals]]
    hits = (
        idx.where(predicates_to_column(preds))
        .select(F.explode("partitions").alias("label"))
        .distinct()
    )
    return {r.label for r in hits.collect()}


def query_index_labels(
    spark: SparkSession,
    manifest: "DatasetManifest",
    column: str,
    literals: Sequence[tuple],
) -> set[str]:
    """Labels whose index entries satisfy ALL literals (one conjunction's
    restriction on this column) — reference P12 ``eval_operator``/``query``.

    Answered on the driver: a filtered ``pyarrow.dataset`` scan of the
    ``partitions`` column, streamed batch by batch into a label set. The
    directory's ``_SUCCESS``/``.crc`` extras are skipped by the default
    ignore prefixes. Falls back to the Spark filter for value types or
    literals the driver cannot compare exactly (see module docstring)."""
    path = os.path.abspath(os.path.join(manifest.root, manifest.indices[column]))
    index = pads.dataset(path, format="parquet")
    expr = _driver_filter(index.schema.field("value").type, literals)
    if expr is None:
        return _spark_query_labels(spark, manifest, column, literals)
    labels: set[str] = set()
    for batch in index.to_batches(columns=["partitions"], filter=expr):
        labels.update(pc.unique(pc.list_flatten(batch.column(0))).to_pylist())
    return labels


def filter_indices(
    spark: SparkSession,
    manifest: "DatasetManifest",
    column: str,
    keep_labels: Sequence[str],
) -> DataFrame:
    """Index restricted to a partition subset (reference X3
    ``filter_indices``, core/index.py:843-874) — values whose partition
    list becomes empty are dropped."""
    keep = [(lbl,) for lbl in keep_labels]
    keep_df = spark.createDataFrame(keep, "__ktk_label string")
    return (
        index_as_dataframe(spark, manifest, column)
        .withColumnRenamed("label", "__ktk_label")
        .join(F.broadcast(keep_df), "__ktk_label")
        .groupBy("value")
        .agg(F.collect_set("__ktk_label").alias("partitions"))
    )


def index_as_dataframe(spark: SparkSession, manifest: "DatasetManifest", column: str) -> DataFrame:
    """Flattened (value, label) view — reference ``as_flat_series``."""
    return load_index(spark, manifest, column).select(
        F.col("value"), F.explode("partitions").alias("label")
    )


__all__ = [
    "build_index",
    "filter_indices",
    "index_as_dataframe",
    "load_index",
    "query_index_labels",
    "update_index",
]
