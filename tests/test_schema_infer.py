"""Schema inference and auto-tokenization: the dict codes auto_tokenize
emits, and the cost shape of the profiling result."""

import os
import sys
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.schema_infer import (  # noqa: E402
    auto_tokenize,
    infer_column_classes,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.plans.inspect import (  # noqa: E402
    formatted_plan,
)


def dense_rank_codes(values):
    """dense_rank() OVER (ORDER BY v), computed in Python: 1-based over
    the sorted distinct values, null first."""
    distinct = sorted({v for v in values if v is not None})
    first = 2 if None in values else 1
    codes = {v: code for code, v in enumerate(distinct, first)}
    codes[None] = 1
    return codes


def test_auto_tokenize_dict_codes_are_dense_rank_null_first(spark):
    """An inferred categorical string column and a numeric_discrete int
    column, both with nulls: codes equal dense_rank over the distinct
    values with null as code 1, and the tokenized frame plans as one
    map-only stage (no join, no window, no exchange)."""
    cats = ["b", None, "a", "c", "o'k"]
    lvls = [3, 1, None, -7, 1, 12]
    rows = [(i, cats[i % 5], lvls[i % 6], i * 0.5) for i in range(120)]
    df = spark.createDataFrame(rows, "row_id bigint, cat string, lvl int, x double")
    classes = {
        r["column_name"]: r["inferred_class"]
        for r in infer_column_classes(spark, df, "t").collect()
    }
    assert classes == {
        "row_id": "identifier", "cat": "categorical",
        "lvl": "numeric_discrete", "x": "numeric_continuous",
    }
    out = auto_tokenize(spark, df, "t")
    plan = formatted_plan(out)
    for op in ("Join", "Window", "Exchange"):
        assert op not in plan, plan
    got = {r["row_id"]: (r["cat_code"], r["lvl_code"]) for r in out.collect()}
    cat_codes, lvl_codes = dense_rank_codes(cats), dense_rank_codes(lvls)
    assert got == {
        i: (cat_codes[c], lvl_codes[v]) for i, c, v, _ in rows
    }


def test_auto_tokenize_served_wide_categorical(spark):
    """A served classes_df can mark columns with more than 100 distinct
    values as dict-encoded: their codes are still dense_rank over the
    batch's distinct values, null first, from the same map-only plan."""
    names = [None if i % 7 == 0 else f"v{(i * 37) % 150:03d}" for i in range(600)]
    grps = [None if i % 11 == 0 else (i * 7) % 130 - 40 for i in range(600)]
    df = spark.createDataFrame(
        list(zip(range(600), names, grps)), "row_id bigint, name string, grp bigint"
    )
    served = spark.createDataFrame(
        [("row_id", "identifier"), ("name", "categorical"), ("grp", "numeric_discrete")],
        "column_name string, inferred_class string",
    )
    assert len({n for n in names if n}) > 100 and len({g for g in grps if g is not None}) > 100
    out = auto_tokenize(spark, df, "t", classes_df=served)
    plan = formatted_plan(out)
    for op in ("Join", "Window", "Exchange"):
        assert op not in plan, plan
    got = {r["row_id"]: (r["name_code"], r["grp_code"]) for r in out.collect()}
    name_codes, grp_codes = dense_rank_codes(names), dense_rank_codes(grps)
    assert got == {
        i: (name_codes[n], grp_codes[g]) for i, n, g in zip(range(600), names, grps)
    }


def test_auto_tokenize_rejects_served_dict_column_of_other_type(spark):
    """infer_column_classes dict-encodes only string, int and bigint
    columns; a served classes_df that marks a double column categorical
    gets a clear error, not a silent encoding."""
    df = spark.createDataFrame([(1, 0.5), (2, 1.5)], "row_id bigint, x double")
    served = spark.createDataFrame(
        [("row_id", "identifier"), ("x", "categorical")],
        "column_name string, inferred_class string",
    )
    with pytest.raises(ValueError, match="'x' is double"):
        auto_tokenize(spark, df, "t", classes_df=served)


def test_infer_column_classes_collect_runs_no_job(spark):
    """infer_column_classes hands back its few stats rows as a local
    relation: collecting it (as every caller does) launches no Spark
    job. A probe job under a second group shows the status tracker has
    caught up before the assertion."""
    df = spark.createDataFrame(
        [(i, f"s{i % 3}", i * 1.5) for i in range(50)], "k_id bigint, s string, x double"
    )
    classes = infer_column_classes(spark, df, "t")
    sc = spark.sparkContext
    group = f"classes-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "collect infer_column_classes")
        rows = classes.collect()
        sc.setJobGroup(group + "-probe", "probe")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r["column_name"] for r in rows] == ["k_id", "s", "x"]
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(group + "-probe") and time.time() < deadline:
        time.sleep(0.1)
    assert tracker.getJobIdsForGroup(group + "-probe"), "probe job never seen"
    assert list(tracker.getJobIdsForGroup(group)) == []
