"""Model persistence + composite pipeline + env check."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.envcheck import (  # noqa: E402
    engine_info,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.operators.quantile_bin import (  # noqa: E402
    LINEITEM_KEYS,
    LINEITEM_MEASURES,
    QuantileBinModel,
)
from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.session import (  # noqa: E402
    load_table,
)


def test_model_save_load_roundtrip(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    model = QuantileBinModel.fit(li, LINEITEM_MEASURES, bins=100)
    p = str(tmp_path / "model.json")
    model.save(p)
    loaded = QuantileBinModel.load(p)
    assert loaded.bins == model.bins
    assert loaded.boundaries == model.boundaries
    a = model.transform(li, keep_cols=LINEITEM_KEYS)
    b = loaded.transform(li, keep_cols=LINEITEM_KEYS)
    assert a.exceptAll(b).count() == 0


def test_model_sampled_strategy(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    model = QuantileBinModel.fit(li, ["l_extendedprice"], bins=10, strategy="sampled")
    toks = model.transform(li, keep_cols=LINEITEM_KEYS)
    stats = toks.selectExpr(
        "min(l_extendedprice_bin) AS mn", "max(l_extendedprice_bin) AS mx"
    ).collect()[0]
    assert stats["mn"] >= 0 and stats["mx"] <= 9


def test_training_data_prep(spark, sf_dir):
    from auto_tabular_gpu_accelerated_etl_schema_inference_pipeline_spark.pipelines import (
        prepare_training_data,
    )

    out = prepare_training_data(spark, sf_dir)
    assert out.count() > 0
    cols = set(out.columns)
    assert {"doc_id", "lang", "source", "f_tokens_bin", "f_chars_bin"} <= cols


def test_engine_info(spark):
    info = engine_info(spark)
    assert info["pyspark_version"]
    assert info["spark.sql.adaptive.enabled"] == "true"
    assert isinstance(info["gpu_available"], bool)
