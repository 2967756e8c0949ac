"""U7: MLlib-shaped training over heuristic features.

The reference trains sklearn LogisticRegression/SVM/NB on the heuristics
matrix with StandardScaler + StratifiedKFold CV over a C grid
(``regression/log_reg.py:40-128``). The Spark-native equivalent is a
``pyspark.ml`` Pipeline — assembler -> scaler -> estimator — wrapped in
``CrossValidator`` with a regularization grid. Distributed by construction;
the model itself is tiny and broadcast back for scoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pyspark.ml import Pipeline
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder


def feature_label_frame(
    features: DataFrame, feature_cols: list[str], label_col: str
) -> DataFrame:
    va = VectorAssembler(
        inputCols=feature_cols, outputCol="features_raw", handleInvalid="keep"
    )
    return va.transform(features).withColumnRenamed(label_col, "label")


_REG_GRID = (0.01, 0.1, 1.0)
_N_FOLDS = 3


def train_logreg_cv(df: DataFrame, feature_cols: list[str], label_col: str):
    """StandardScaler + LogisticRegression + ``_N_FOLDS``-fold CV over
    ``_REG_GRID`` (the reference's C grid inverted: C = 1/regParam).
    Returns the fitted CrossValidatorModel."""
    assembled = feature_label_frame(df, feature_cols, label_col)
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withMean=True, withStd=True
    )
    lr = LogisticRegression(featuresCol="features", labelCol="label")
    pipe = Pipeline(stages=[scaler, lr])
    grid = ParamGridBuilder().addGrid(lr.regParam, list(_REG_GRID)).build()
    cv = CrossValidator(
        estimator=pipe,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol="label"),
        numFolds=_N_FOLDS,
        seed=42,
        parallelism=4,
    )
    return cv.fit(assembled)


def predict_positive_ids(
    model, df: DataFrame, feature_cols: list[str], label_col: str, id_col: str
) -> DataFrame:
    """O10 (reference regression/predictions_to_ids.py:9-15): ids predicted
    positive."""
    from pyspark.sql import functions as F

    assembled = feature_label_frame(df, feature_cols, label_col)
    return (
        model.transform(assembled)
        .filter(F.col("prediction") == 1.0)
        .select(id_col)
    )
