"""IO layer: CSV round-trip with explicit schema, partitioned Parquet,
overwrite idempotency (SURVEY.md §2.1 S1-S6)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from supplier_performance_data_pipeline_spark.sources.readers import read_csv
from supplier_performance_data_pipeline_spark.sources.writers import write_parquet

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("d", T.DateType()),
        T.StructField("x", T.DoubleType()),
    ]
)

ROWS = [
    (1, "a", dt.date(2024, 1, 1), 1.5),
    (2, "b", dt.date(2024, 6, 2), -2.25),
    (3, None, None, None),
]


def test_csv_round_trip_schema(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "t.csv")
    df.write.option("header", True).mode("overwrite").csv(path)
    back = read_csv(spark, path, SCHEMA)
    assert back.schema == SCHEMA  # declared, never inferred
    assert sorted(map(tuple, back.collect())) == sorted(ROWS)


def test_partitioned_parquet_prunes(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA).withColumn(
        "part", F.coalesce(F.col("id") % 2, F.lit(0))
    )
    path = str(tmp_path / "p")
    write_parquet(df, path, partition_by=["part"])
    back = spark.read.parquet(path)
    pruned = back.filter(F.col("part") == 1)
    assert pruned.count() == len([r for r in ROWS if r[0] % 2 == 1])
    # Partition filter must reach the scan, not a post-filter.
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_overwrite_idempotent(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "o")
    write_parquet(df, path)
    write_parquet(df, path)  # rerun must not duplicate or fail
    assert spark.read.parquet(path).count() == len(ROWS)


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """write_table(bucket_by=...) pre-shuffles at write time; a later
    join on the bucket column must then be shuffle-free (the 100 TB
    strategy for repeatedly-joined facts)."""
    import re

    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_table,
    )

    left = spark.range(1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(1000).selectExpr("id AS k", "id * 3 AS b")
    write_table(left, "bkt_left", bucket_by=(4, "k"))
    write_table(right, "bkt_right", bucket_by=(4, "k"))
    try:
        joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning", plan)
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_jsonl_round_trip_schema(spark, tmp_path):
    from supplier_performance_data_pipeline_spark.sources.readers import (
        read_jsonl,
    )
    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_jsonl,
    )

    df = spark.createDataFrame(ROWS, SCHEMA)
    path = str(tmp_path / "docs.jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, SCHEMA)
    assert back.schema == SCHEMA
    assert sorted(map(tuple, back.collect()), key=str) == sorted(
        map(tuple, ROWS), key=str
    )


def test_range_layout_files_have_disjoint_key_ranges(spark, tmp_path):
    """The data-skipping precondition: every output file owns a disjoint
    range of the layout key, so parquet min/max footer stats can prune
    files for selective predicates."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_parquet_range_layout,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    path = str(tmp_path / "li_ranged")
    write_parquet_range_layout(li, path, ["l_orderkey"], n_files=4)

    spans = []
    for f in _glob.glob(path + "/*.parquet"):
        md = _pq.read_metadata(f)
        idx = md.schema.names.index("l_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) >= 3  # range partitioner actually split the key space
    spans.sort()
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2  # disjoint (boundary key may touch, never overlap)
    # And the data survives intact.
    assert spark.read.parquet(path).count() == li.count()


def test_tune_session_respects_explicit_shuffle_partitions(spark):
    """tune_session right-sizes only sessions still on Spark's stock
    200 — an owner-chosen value (test fixtures, get_spark callers, a
    cluster sized to its data) must survive."""
    from supplier_performance_data_pipeline_spark.session import tune_session

    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != "200"  # the fixture chose its own value
    tune_session(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        tune_session(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_query_spec_build_tunes_a_stock_session(spark):
    """QuerySpec.build tunes the session it is handed once, before the
    builder runs: a session on Spark's stock values (200 shuffle
    partitions, a non-UTC zone, AQE off) comes out on the engine's."""
    from supplier_performance_data_pipeline_spark.plans.registry import (
        load_all,
    )
    from supplier_performance_data_pipeline_spark.session import (
        DEFAULT_SHUFFLE_PARTITIONS,
        ENGINE_CONF,
    )
    from tests.conftest import SF_SMOKE

    stock = {
        "spark.sql.shuffle.partitions": "200",
        "spark.sql.session.timeZone": "America/Los_Angeles",
        "spark.sql.adaptive.enabled": "false",
    }
    before = {k: spark.conf.get(k) for k in [*stock, *ENGINE_CONF]}
    try:
        for k, v in stock.items():
            spark.conf.set(k, v)
        load_all()["preview_suppliers"].build(spark, SF_SMOKE)
        for k, v in ENGINE_CONF.items():
            assert spark.conf.get(k) == v, k
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(
            DEFAULT_SHUFFLE_PARTITIONS
        )
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_query_modules_leave_tuning_and_table_reads_to_shared_code():
    """Session tuning happens once, in QuerySpec.build, and testdata
    tables are read through the one ``_t`` in plans/tpch_domain.py: no
    plans/queries_*.py module calls tune_session or defines its own
    ``_t``."""
    import ast
    import glob
    import os

    from supplier_performance_data_pipeline_spark import plans

    paths = glob.glob(os.path.join(os.path.dirname(plans.__file__), "queries_*.py"))
    assert paths
    offenders = []
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "tune_session"
            ) or (isinstance(node, ast.FunctionDef) and node.name == "_t"):
                offenders.append(f"{os.path.basename(path)}:{node.lineno}")
    assert not offenders, offenders


def test_zorder_layout_clusters_both_dimensions(spark, tmp_path):
    """The 2-d data-skipping precondition: under the z-order layout
    EVERY file's footer stats are tight on BOTH keys (each file covers
    roughly half of each domain at 4 files), whereas a 1-d range layout
    is tight on its leading key only — the trailing key spans ~the full
    domain in every file, so conjunctive predicates can't prune."""
    import glob as _glob

    import pyarrow.parquet as _pq

    from supplier_performance_data_pipeline_spark.sources.writers import (
        write_parquet_range_layout,
        write_parquet_zorder_layout,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_partkey", "l_suppkey"
    )
    lo_a, hi_a, lo_b, hi_b = li.agg(
        *[f("l_partkey") for f in (F.min, F.max)],
        *[f("l_suppkey") for f in (F.min, F.max)],
    ).first()
    span_a, span_b = hi_a - lo_a + 1, hi_b - lo_b + 1

    def file_spans(path):
        spans = []
        for fn in _glob.glob(path + "/*.parquet"):
            md = _pq.read_metadata(fn)
            cols = {}
            for key in ("l_partkey", "l_suppkey"):
                idx = md.schema.names.index(key)
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    mins.append(st.min)
                    maxs.append(st.max)
                cols[key] = max(maxs) - min(mins) + 1
            spans.append(cols)
        return spans

    zpath = str(tmp_path / "li_z")
    write_parquet_zorder_layout(li, zpath, "l_partkey", "l_suppkey", 8)
    zspans = file_spans(zpath)
    assert len(zspans) >= 6
    # Sampled range boundaries let the odd file straddle a z-quadrant
    # edge (inheriting a full span on one key), so assert the CLUSTER
    # property on the majority: most files tight on BOTH dimensions.
    tight_a = sum(s["l_partkey"] <= 0.65 * span_a for s in zspans)
    tight_b = sum(s["l_suppkey"] <= 0.65 * span_b for s in zspans)
    assert tight_a >= len(zspans) * 2 // 3
    assert tight_b >= len(zspans) * 2 // 3

    rpath = str(tmp_path / "li_r")
    write_parquet_range_layout(li, rpath, ["l_partkey"], n_files=4)
    rspans = file_spans(rpath)
    # The 1-d layout's trailing key is UNclustered: full-domain stats.
    assert all(s["l_suppkey"] >= 0.9 * span_b for s in rspans)

    # And the z layout is lossless.
    assert spark.read.parquet(zpath).count() == li.count()
