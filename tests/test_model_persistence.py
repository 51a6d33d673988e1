"""Model persistence: a fitted PipelineModel written to disk and reloaded
must predict identically — the deploy path (train once on the cluster,
serve the artifact) the reference never had."""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import Normalizer, VectorAssembler
from pyspark.ml.regression import RandomForestRegressor

from spark_ml_spark.operators.ml import BRANDS, SEED, _BCOL, build_feature_table


def test_pipeline_model_roundtrip(spark, sf_dir, tmp_path):
    ft = build_feature_table(spark, sf_dir).withColumnRenamed("c_acctbal", "label")
    cols = [_BCOL[b] for b in BRANDS]
    pipe = Pipeline(stages=[
        VectorAssembler(inputCols=cols, outputCol="raw"),
        Normalizer(inputCol="raw", outputCol="features", p=1.0),
        RandomForestRegressor(featuresCol="features", labelCol="label",
                              seed=SEED, numTrees=5, maxDepth=4),
    ])
    model = pipe.fit(ft)
    path = str(tmp_path / "rf_model_roundtrip")
    model.write().overwrite().save(path)
    reloaded = PipelineModel.load(path)

    orig = {
        r.o_custkey: r.prediction
        for r in model.transform(ft).select("o_custkey", "prediction").collect()
    }
    back = {
        r.o_custkey: r.prediction
        for r in reloaded.transform(ft).select("o_custkey", "prediction").collect()
    }
    assert orig == back  # bit-identical predictions after reload
