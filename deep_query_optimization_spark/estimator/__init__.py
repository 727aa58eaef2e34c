"""Learned cost-model harness.

Reference ``dqo/estimator`` (§2.8): labeled query datasets with
log2-bucketed runtimes, bucket-balanced splits, metrics
(accuracy/MAE/macro-F1), several neural architectures, and an
evaluation harness. All seven model families (MLP, GRU, Gerelt4,
TreeLSTM, CNN, MSCN, Neo) train in numpy on one shared core
(``model._CostModel``); ``model.FAMILIES`` names the ones the engine
serves from plan encodings.
"""

from deep_query_optimization_spark.estimator.dataset import QueriesDataset  # noqa: F401
from deep_query_optimization_spark.estimator.metrics import (  # noqa: F401
    bucketize,
    mae,
    mcc_metrics,
)
from deep_query_optimization_spark.estimator.model import MLPCostModel  # noqa: F401
