"""Calibration report: score a labeled workload with the trained cost
model through the Arrow-batched ``predict_udf`` — one distributed scan,
no driver-side scoring loop — and compare predictions to measured
runtimes per log2 bucket.

This is the reference's end state (estimation serving execution): the
rotating lab CSV already records per-query (query, predicted, actual)
when a predictor is attached to ``SparkQueryRunner``; this tool is the
bulk path plus the report.

Usage:
    python tools/calibration_report.py [est_dir] [model_family] [out_json]

``est_dir`` must hold ``workload.csv`` + ``model_<family>.json`` +
``schema.json`` (a per-family directory of ``tools/train.py train``).
``DQO_ENC_CACHE=<path>`` persists the engine's encodings across runs.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from deep_query_optimization_spark.estimator import QueriesDataset  # noqa: E402
from deep_query_optimization_spark.estimator.metrics import bucket_of_log2, bucketize, mae, mcc_metrics  # noqa: E402
from deep_query_optimization_spark.estimator.model import FAMILIES, predict_udf  # noqa: E402
from deep_query_optimization_spark.session import get_spark  # noqa: E402
from tools.train import env_cache, open_engine  # noqa: E402


def main() -> None:
    est_dir = Path(sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.data/est_sf1")
    family = sys.argv[2] if len(sys.argv) > 2 else "gru"
    out_json = sys.argv[3] if len(sys.argv) > 3 else "reports/estimator_calibration_sf1.json"
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/repo/.data/sf1"

    model = FAMILIES[family].load(str(est_dir / f"model_{family}.json"))
    ds = QueriesDataset.load(str(est_dir / "workload.csv"))

    spark = get_spark("dqo-calibration")
    spark.sparkContext.setLogLevel("ERROR")
    engine = open_engine(spark, sf_dir, est_dir / "schema.json", env_cache())

    needs_children = model.ENCODING == "tree"
    encs = engine.encode(model.ENCODING, [sql for sql, _, _ in ds.rows])
    engine.save_encodings()
    print(f"encoding cache: {engine.encode_cache_info()}")
    recs = []
    for (sql, runtime, _), enc in zip(ds.rows, encs):
        rec = {
            "query": sql,
            "runtime": float(runtime),
            "ids": [int(i) for i in enc[0]],
            "mat": [[float(x) for x in row] for row in enc[1]],
        }
        if needs_children:
            rec["children"] = [[int(k) for k in kids] for kids in enc[2]]
        recs.append(rec)
    pdf = pd.DataFrame(recs)
    df = spark.createDataFrame(pdf)

    udf = predict_udf(model)
    cols = ("ids", "mat", "children") if needs_children else ("ids", "mat")
    scored = df.withColumn("pred_log2", udf(*[F.col(c) for c in cols])).select(
        "query", "runtime", "pred_log2"
    )
    rows = scored.collect()  # small: one double per query

    actual_b = [bucketize(r["runtime"]) for r in rows]
    pred_b = [bucket_of_log2(r["pred_log2"]) for r in rows]
    m = mcc_metrics(actual_b, pred_b)
    m["mae"] = mae(actual_b, pred_b)

    # Two views of the same confusion matrix:
    # - per_bucket (keyed by ACTUAL bucket) = recall: of the queries that
    #   truly land in bucket b, how often did the model say b?
    # - per_bucket_predicted (keyed by PREDICTED bucket) = precision: when
    #   the model SAYS b, how often is it right? This is the only quantity
    #   available at decision time, so hint margins must key on it
    #   (plans/hints.py margins_from_calibration).
    def _bucket_table(keys: list[int]) -> dict[str, dict]:
        agg: dict[int, dict] = {}
        for k, ab, pb, r in zip(keys, actual_b, pred_b, rows):
            s = agg.setdefault(k, {"n": 0, "hits": 0, "pred_log2_sum": 0.0})
            s["n"] += 1
            s["hits"] += int(ab == pb)
            s["pred_log2_sum"] += float(r["pred_log2"])
        return {
            str(b): {
                "n": s["n"],
                "bucket_accuracy": round(s["hits"] / s["n"], 3),
                "mean_pred_log2": round(s["pred_log2_sum"] / s["n"], 3),
            }
            for b, s in sorted(agg.items())
        }

    calib = _bucket_table(actual_b)
    calib_pred = _bucket_table(pred_b)

    report = {
        "family": family,
        "n": len(rows),
        "metrics": {k: round(v, 4) for k, v in m.items()},
        "per_bucket": calib,
        "per_bucket_predicted": calib_pred,
    }
    Path(out_json).parent.mkdir(parents=True, exist_ok=True)
    with open(out_json, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(report["metrics"]))
    for b, s in calib.items():
        bar = "#" * int(round(s["bucket_accuracy"] * 40))
        print(f"bucket {b:>3s}  n={s['n']:4d}  acc={s['bucket_accuracy']:.2f} {bar}")
    print(f"-> {out_json}")


if __name__ == "__main__":
    main()
