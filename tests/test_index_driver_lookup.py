"""Driver-side secondary-index lookup (``query_index_labels``).

Differential: every lookup is compared with the distributed Spark filter
over the same index table — the lookup's previous implementation, kept
here as the oracle — on Spark-built, incrementally updated and imported
reference-layout indices. The fallback types (double with NaN keys,
timestamp) must still equal it. A zero-jobs test pins that an index-only
point lookup plans without starting a Spark job.
"""

import datetime
import math
import os
import random
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartothek_spark.core import index as ktk_index
from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.core.predicates import predicates_to_column
from kartothek_spark.dataset.interop import _import_embedded_index, _import_external_index
from kartothek_spark.dataset.read import dispatch_labels, read_table
from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

OPS = ["==", "!=", "<", "<=", ">", ">="]

SCHEMA = T.StructType(
    [
        T.StructField("p", T.IntegerType()),
        T.StructField("l", T.LongType()),
        T.StructField("i", T.IntegerType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BooleanType()),
        T.StructField("d", T.DateType()),
        T.StructField("f", T.DoubleType()),
        T.StructField("t", T.TimestampType()),
        T.StructField("y", T.BinaryType()),
    ]
)
INDEXED = ["l", "i", "s", "b", "d", "y", "f", "t"]
DRIVER = ["l", "i", "s", "b", "d", "y"]  # the rest ("f", "t") fall back to Spark

STRINGS = ["", "a", "ab", "b", "z", "Z", "é", "ü", "日本", "a b"]
FLOATS = [float("nan"), -1.5, 0.0, 2.25, float("inf"), -float("inf")]
BYTES = [b"", b"\x00", b"\x00\x01", b"a", b"\x7f", b"\x80", b"\xff", b"\xff\x00"]
T0 = datetime.datetime(2024, 1, 1)
D0 = datetime.date(2024, 1, 1)


def _rows(rng, n, p_values):
    return [
        (
            rng.choice(p_values),
            rng.choice([-(2**40), -7, 0, 3, 11, 2**40]) + rng.randrange(3),
            rng.randrange(-50, 50),
            rng.choice(STRINGS),
            rng.random() < 0.5,
            D0 + datetime.timedelta(days=rng.randrange(-400, 400)),
            rng.choice(FLOATS),
            T0 + datetime.timedelta(hours=rng.randrange(-48, 48)),
            rng.choice(BYTES),
        )
        for _ in range(n)
    ]


def spark_oracle(spark, manifest, column, literals):
    """The Spark filter over the index table, labels-only collect."""
    idx = spark.read.parquet("file:" + os.path.abspath(os.path.join(manifest.root, manifest.indices[column])))
    preds = [[("value", op, v) for (_c, op, v) in literals]]
    hits = idx.where(predicates_to_column(preds)).select(F.explode("partitions").alias("label")).distinct()
    return {r.label for r in hits.collect()}


def _shift(v, k):
    """An int, date or timestamp literal k steps away from ``v``."""
    if isinstance(v, datetime.datetime):
        return v + datetime.timedelta(hours=k)
    if isinstance(v, datetime.date):
        return v + datetime.timedelta(days=k)
    return v + k


def _literal_cases(column, values):
    """Conjunctions on one column: every op at the min, the max, a middle
    value and literals outside the range; ``in`` incl. the empty list;
    plus two-literal range conjunctions."""
    values = sorted(set(values), key=lambda v: (isinstance(v, float) and math.isnan(v), v))
    lo, hi, mid = values[0], values[-1], values[len(values) // 2]
    if isinstance(lo, bool):
        probes = [False, True]
    elif isinstance(lo, float):
        probes = [lo, hi, mid, float("nan"), 1.0, -100.0]
    elif isinstance(lo, str):
        probes = [lo, hi, mid, "￿", "aa"]
    elif isinstance(lo, bytes):
        probes = [lo, hi, mid, b"\xff\xff", b"\x00\x00"]
    else:
        probes = [lo, hi, mid, _shift(lo, -1), _shift(hi, 1)]
    cases = [[(column, op, v)] for op in OPS for v in probes]
    cases += [
        [(column, "in", [])],
        [(column, "in", [lo])],
        [(column, "in", [lo, hi, mid])],
        [(column, "in", [probes[-1], probes[-2]])],
        [(column, ">=", lo), (column, "<=", hi)],
        [(column, ">", lo), (column, "<", hi)],
        [(column, "!=", mid), (column, "in", [lo, mid, hi])],
        [(column, ">", hi), (column, "<", lo)],
    ]
    return cases


def _assert_lookups_match(spark, manifest, column, values, driver: bool):
    path = os.path.join(manifest.root, manifest.indices[column])
    value_type = pads.dataset(path, format="parquet").schema.field("value").type
    for lits in _literal_cases(column, values):
        # the driver path is taken exactly for the non-fallback types
        assert (ktk_index._driver_filter(value_type, lits) is not None) == driver, lits
        got = ktk_index.query_index_labels(spark, manifest, column, lits)
        assert got == spark_oracle(spark, manifest, column, lits), (column, lits)


@pytest.fixture(scope="module")
def indexed(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idxdrv"))
    rng = random.Random(7)
    rows = _rows(rng, 120, [0, 1, 2, 3, 4, 5])
    df = spark.createDataFrame(rows, SCHEMA).repartition(3)
    store_dataframe_as_dataset(
        spark, df, root, "ds", partition_on=["p"], secondary_indices=INDEXED
    )
    return root, rows


@pytest.mark.parametrize("column", INDEXED)
def test_driver_lookup_matches_spark_filter(spark, indexed, column):
    root, rows = indexed
    m = DatasetManifest.load(root, "ds")
    pos = [f.name for f in SCHEMA.fields].index(column)
    _assert_lookups_match(spark, m, column, [r[pos] for r in rows], driver=column in DRIVER)


def test_driver_lookup_after_update_index(spark, tmp_path):
    """An index maintained by update_index (labels removed and added)."""
    root = str(tmp_path)
    rng = random.Random(11)
    rows = _rows(rng, 60, [0, 1, 2])
    store_dataframe_as_dataset(
        spark, spark.createDataFrame(rows, SCHEMA), root, "ds",
        partition_on=["p"], secondary_indices=DRIVER,
    )
    before = DatasetManifest.load(root, "ds")
    added = _rows(rng, 40, [2, 3])
    update_dataset(
        spark, spark.createDataFrame(added, SCHEMA), root, "ds", delete_scope=[{"p": 1}]
    )
    m = DatasetManifest.load(root, "ds")
    assert set(m.partitions) - set(before.partitions)  # labels added
    assert set(before.partitions) - set(m.partitions)  # labels removed
    live = [r for r in rows if r[0] != 1] + added
    for column in DRIVER:
        assert m.indices[column] != before.indices[column]
        pos = [f.name for f in SCHEMA.fields].index(column)
        _assert_lookups_match(spark, m, column, [r[pos] for r in live], driver=True)
    removed = set(before.partitions) - set(m.partitions)
    assert not removed & ktk_index.query_index_labels(spark, m, "i", [("i", ">=", -100)])


def test_driver_lookup_on_imported_reference_indices(spark, tmp_path):
    """Both imported layouts: the embedded dict written as
    ``part-0.parquet`` and the converted external index parquet."""
    root = str(tmp_path / "root")
    src = str(tmp_path / "ref")
    rng = random.Random(5)
    labels = [f"p={k}/{uuid.uuid4().hex}.parquet" for k in range(8)]
    m = DatasetManifest(dataset_uuid="imp", root=root, schema=SCHEMA, partition_keys=["p"])

    ints = sorted(rng.sample(range(-1000, 1000), 30))
    embedded = {str(v): rng.sample(labels, rng.randrange(1, 4)) for v in ints}
    m.indices["l"] = _import_embedded_index(m, "l", embedded)

    strs = sorted(set(STRINGS))
    key = "refds/indices/s/2024.by-dataset-index.parquet"
    os.makedirs(os.path.dirname(os.path.join(src, key)))
    pq.write_table(
        pa.table(
            {
                "s": pa.array(strs),
                "partition": pa.array([rng.sample(labels, 2) for _ in strs], pa.list_(pa.string())),
            }
        ),
        os.path.join(src, key),
    )
    m.indices["s"] = _import_external_index(spark, m, "s", src, key)

    assert os.listdir(os.path.join(root, m.indices["l"])) == ["part-0.parquet"]
    _assert_lookups_match(spark, m, "l", ints, driver=True)
    _assert_lookups_match(spark, m, "s", strs, driver=True)


def _jobs_in_group(spark, group, action):
    """Spark jobs ``action`` starts under job group ``group``. Job
    records reach the status tracker through the listener bus, so a
    sentinel job in a second group is awaited first: once it is visible,
    every earlier job is too."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        result = action()
        sc.setJobGroup(group + "-sentinel", "sentinel")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.time() < deadline, "sentinel job never reached the status tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group)), result


def test_index_only_point_lookup_starts_no_spark_job(spark, indexed):
    root, rows = indexed
    m = DatasetManifest.load(root, "ds")
    i_value = rows[0][2]
    preds = [[("i", "==", i_value)]]

    n_jobs, labels = _jobs_in_group(spark, "idx-driver", lambda: dispatch_labels(spark, m, preds))
    assert n_jobs == 0
    assert labels and len(labels) < len(m.partitions)
    assert set(labels) == spark_oracle(spark, m, "i", preds[0])

    # the counter sees the jobs of the Spark filter it replaces
    n_oracle, _ = _jobs_in_group(spark, "idx-oracle", lambda: spark_oracle(spark, m, "i", preds[0]))
    assert n_oracle > 0

    # a fallback type still answers through Spark jobs
    n_fallback, _ = _jobs_in_group(
        spark, "idx-fallback", lambda: dispatch_labels(spark, m, [[("f", "==", 2.25)]])
    )
    assert n_fallback > 0

    # the pruned read returns exactly the matching rows
    expected = sorted(r[3] for r in rows if r[2] == i_value)
    got = sorted(r.s for r in read_table(spark, root, "ds", predicates=preds).collect())
    assert got == expected
