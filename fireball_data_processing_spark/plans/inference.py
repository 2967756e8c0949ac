"""U3/U4/U5: the model-inference envelope as a concrete operator.

The reference runs three classifier generations over distilled utterances —
GPT few-shot (``distill3b_ic_classifier_gpt.py``), an HF zero-shot model,
and a finetuned predictor (SURVEY section 2.8) — all with the same shape:
batch text in, (label, prob) out, followed by deterministic threshold/
filter logic. The engine reifies that shape once:

- :func:`classify_batches` — distributed batch inference via
  ``mapInPandas``: Arrow batches cross the JVM→Python boundary once, the
  model callable is pluggable (an API client, a transformers pipeline, an
  MLlib model wrapper, or a deterministic rule for tests), and everything
  downstream (thresholds, joins, aggregation) stays JVM-side.

The model itself is NOT part of the engine: this container has no model
runtime, and the reference treats the classifier as an external dependency
too (API keys / model checkpoints). The deterministic envelope around it
(threshold/label/prob math) is oracle-checked via the
``ic_ooc_classification`` catalog query.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def classify_batches(
    df: DataFrame,
    input_cols: Sequence[str],
    model_fn: Callable[[pd.DataFrame], pd.DataFrame],
    out_cols: str = "label string, prob double",
) -> DataFrame:
    """Attach model predictions to every row.

    ``model_fn`` receives a pandas frame of ``input_cols`` (one Arrow batch
    at a time, NOT the whole partition in memory) and must return a frame
    with the ``out_cols`` columns, same length and order. Expensive model
    state should be constructed lazily inside ``model_fn`` on first call —
    mapInPandas reuses the Python worker across batches, so per-executor
    model load is amortized exactly like the reference's worker-pool init.
    """
    out_names = StructType.fromDDL(out_cols).names
    clashes = sorted(set(out_names) & set(df.columns))
    if clashes:
        raise ValueError(
            f"out_cols {clashes} collide with input columns; rename them "
            "(e.g. out_cols='pred_label string, pred_prob double') — duplicate "
            "names would fail deep inside the Arrow conversion otherwise"
        )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", " + out_cols

    cols = list(input_cols)

    def run(batches):
        for pdf in batches:
            preds = model_fn(pdf[cols])
            preds.index = pdf.index
            yield pd.concat([pdf, preds], axis=1)

    return df.mapInPandas(run, schema=out_schema)


def mllib_model_fn(model) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """U4/U5: wire a *trained* MLlib scaler+logreg pipeline into the envelope.

    Mirrors the reference's finetuned-predictor flow
    (``sta_nar_test_predictions.py:22-33``, ``old/distill3b_ic_classifier.py``):
    small trained model state is shipped to every worker once, then each batch
    is scored locally. Here the fitted parameters (StandardScaler mean/std,
    LogisticRegression coefficients/intercept — a few KB) are extracted on the
    driver and closed over, so executors score Arrow batches with vectorized
    numpy and no JVM round-trip. The returned callable plugs straight into
    :func:`classify_batches` with ``input_cols`` equal to the
    ``VectorAssembler`` feature columns, **in the same order**.

    Accepts a ``CrossValidatorModel`` or ``PipelineModel`` from
    :func:`fireball_data_processing_spark.plans.ml.train_logreg_cv`.
    Probability parity with ``model.transform`` is exact (same float ops:
    scale, dot, sigmoid); see ``tests/test_ml_and_anonymize.py``.
    """
    import numpy as np

    best = getattr(model, "bestModel", model)
    stages = getattr(best, "stages", [best])
    mean = scale = None
    coef = intercept = None
    for st in stages:
        kind = type(st).__name__
        if kind == "StandardScalerModel":
            mean = np.asarray(st.mean.toArray(), dtype="float64")
            std = np.asarray(st.std.toArray(), dtype="float64")
            # MLlib semantics: features with zero std are zeroed, not passed
            scale = np.where(std == 0.0, 0.0, 1.0 / np.where(std == 0.0, 1.0, std))
        elif kind == "LogisticRegressionModel":
            coef = np.asarray(st.coefficients.toArray(), dtype="float64")
            intercept = float(st.intercept)
    if coef is None:
        raise ValueError(
            "no LogisticRegressionModel stage found; mllib_model_fn supports "
            "the scaler+logreg pipelines produced by plans.ml.train_logreg_cv"
        )

    def model_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf.to_numpy(dtype="float64")
        if scale is not None:
            x = (x - mean) * scale
        margin = x @ coef + intercept
        prob = 1.0 / (1.0 + np.exp(-margin))
        label = np.where(prob >= 0.5, "1", "0")
        return pd.DataFrame({"label": label, "prob": prob})

    return model_fn


def with_retries(
    model_fn: Callable[[pd.DataFrame], pd.DataFrame],
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """U3: retry/pacing wrapper for flaky model backends.

    The reference's GPT classifier retries each API call up to 3 times and
    paces calls with a short sleep (``distill3b_ic_classifier_gpt.py:46-58``);
    its driver processes files sequentially to stay under the rate limit
    (``distill3b_ic_classifier_gpt.py:114-117``). This wrapper gives the
    batch-level equivalent: each Arrow batch is attempted up to 3 times with
    exponential backoff (``0.05 * 2**attempt`` seconds between tries); the
    last error is re-raised so Spark's own task retry takes over.

    Cluster-wide rate limiting: cap concurrency *structurally* with
    ``df.coalesce(k)`` before :func:`classify_batches` — at most ``k`` tasks
    (hence ``k`` concurrent model clients) run at once, the distributed
    analog of the reference's sequential file loop.
    """

    def wrapped(pdf: pd.DataFrame) -> pd.DataFrame:
        for attempt in range(3):
            try:
                return model_fn(pdf)
            except (Exception,):
                if attempt == 2:
                    raise
                time.sleep(0.05 * (2 ** attempt))
        raise AssertionError("unreachable")

    return wrapped
