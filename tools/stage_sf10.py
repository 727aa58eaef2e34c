"""Stage the best sf10-capable cost model for the sf10 hint report.

Round-7's cross-scale finding: cost models are scale-local — the sf1
model is useless on sf10 (0.175). This compares the sf10-capable
candidates' held-out sf10 test accuracy from their own reports, stages
the winner as .data/est_sf10_best/{model_gru.json,schema.json,
workload.csv,calibration.json} (the layout calibration_report.py,
hint_report.py and engine.optimize_sql consume), and refreshes
reports/estimator_calibration_sf10.json. Candidates are the
``tools/train.py finetune`` and ``tools/train.py joint`` outputs under
``.data``; calibration reuses the split's ``enc_cache.pkl`` through
``DQO_ENC_CACHE``, the engine's persisted encoding memo.

Staging is ATOMIC: everything is produced in a sibling ``<out>.tmp``
directory and swapped in with os.replace only once every artifact —
model, schema, workload, choice.json, calibration — exists. Round 9's
run crashed mid-copy (a missing sys.path insert) and left the serving
dir with an r9 model beside r7-era choice.json; a crash now leaves the
previous staging untouched.

Usage:
    python tools/stage_sf10.py [out_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def candidate_acc() -> list[tuple[float, str, str]]:
    cands: list[tuple[float, str, str]] = []
    for root, label in (
        (".data/ft_sf10_r12", "sf10-finetune-r12"),  # continued from the r11 sf10 winner
        (".data/ft_sf10_r12_sf1src", "sf10-ft-sf1src-r12"),  # re-ft from the sf1 winner
        (".data/ft_sf10_r11", "sf10-finetune-r11"),  # post-reset rebuild corpus
        (".data/ft_sf10_r10", "sf10-finetune-r10"),  # r9 ft continued on the grown corpus
        (".data/ft_sf10_r9", "sf10-finetune-r9"),
        (".data/ft_sf10", "sf10-finetune-r7"),
    ):
        ft = REPO / root / "finetune_gru.json"
        if ft.exists():
            r = json.loads(ft.read_text())
            acc = max(
                r.get("after", {}).get("accuracy", 0.0),
                r.get("after_calibrated", {}).get("accuracy", 0.0),
            )
            cands.append((acc, str(REPO / root / "model_gru_finetuned.json"), label))
    joint = REPO / ".data/est_r8_joint/report.json"
    if joint.exists():
        r = json.loads(joint.read_text())
        m = r.get("models", {}).get("gru", {})
        acc = m.get("test_sf10", {}).get("accuracy", 0.0)
        cands.append((acc, str(REPO / ".data/est_r8_joint/model_gru.json"), "joint-sf1-sf10"))
    return [c for c in cands if Path(c[1]).exists()]


def run_calibration(est_dir: Path, out_json: Path, sf_dir: str, cache: Path | None = None) -> dict:
    env = dict(os.environ)
    if cache is not None and cache.exists():
        env["DQO_ENC_CACHE"] = str(cache)
    subprocess.run(
        [
            sys.executable,
            str(REPO / "tools/calibration_report.py"),
            str(est_dir),
            "gru",
            str(out_json),
            sf_dir,
        ],
        cwd=REPO,
        check=True,
        env=env,
    )
    return json.loads(out_json.read_text())


def discount_by_calib_share(union: dict, calib_only: dict | None) -> dict:
    """Discount per-bucket accuracies by the share of rows that come
    from the DISJOINT calib carve (round-9 advice, medium): test.csv
    rows also selected the staged winner, so accuracy measured on them
    is optimistically biased — and margins_from_calibration would
    loosen override margins exactly where the model overfits the
    selection set. Scale each bucket's accuracy by
    ``0.5 + 0.5 * calib_share``: a bucket measured purely on calib
    rows keeps its face value, one measured purely on selection rows
    counts at half. The raw value and the share are kept alongside so
    the tradeoff stays auditable."""
    out = dict(union)
    for key in ("per_bucket", "per_bucket_predicted"):
        table = dict(union.get(key, {}))
        ref = (calib_only or {}).get(key, {})
        for b, s in table.items():
            n = max(int(s.get("n", 0)), 1)
            n_calib = int(ref.get(b, {}).get("n", 0))
            share = min(1.0, n_calib / n)
            s = dict(s)
            s["bucket_accuracy_undiscounted"] = s["bucket_accuracy"]
            s["calib_row_share"] = round(share, 3)
            s["bucket_accuracy"] = round(s["bucket_accuracy"] * (0.5 + 0.5 * share), 3)
            table[b] = s
        out[key] = table
    out["discount"] = (
        "bucket_accuracy scaled by (0.5 + 0.5 * calib_row_share): rows from "
        "test.csv also selected this checkpoint, so their accuracy is "
        "optimistically biased; calib.csv rows are disjoint from selection"
    )
    return out


def merge_disjoint_margins(union_discounted: dict, calib_only: dict | None) -> tuple[dict, bool]:
    """Per-bucket margin source selection (r11 verdict ask #2: the
    margins that decide when the hint gate ACTS were fit on calib+test,
    and test also selected the winner — an optimism the calib-share
    discount tempers but does not remove).

    Where the DISJOINT calib carve has n >= 5 (the same floor
    ``margins_from_calibration`` enforces), the bucket's entry is taken
    from the calib-only report — rows the winner never saw during
    selection. Thin buckets keep the discounted-union entry (the r8
    tradeoff: an all-abstain gate silently disables a measured win).
    Every entry records its ``margin_fit_source``; returns the merged
    report and whether ALL acting buckets (n >= 5 post-merge) are
    calib-only — the honest value for choice.json's
    ``calibration_disjoint_from_selection``."""
    out = dict(union_discounted)
    all_disjoint = True
    for key in ("per_bucket", "per_bucket_predicted"):
        table = dict(out.get(key, {}))
        ref = (calib_only or {}).get(key, {})
        for b, s in table.items():
            s = dict(s)
            c = ref.get(b, {})
            if int(c.get("n", 0)) >= 5:
                s = dict(c)
                s["margin_fit_source"] = "calib_only_disjoint"
            else:
                s["margin_fit_source"] = "union_discounted"
                if key == "per_bucket_predicted" and int(s.get("n", 0)) >= 5:
                    all_disjoint = False
            table[b] = s
        out[key] = table
    out["margin_fit"] = (
        "per-bucket entries sourced from the selection-DISJOINT calib carve "
        "where it has n>=5; thin buckets fall back to the calib-share-"
        "discounted calib+test union (margin_fit_source on every entry)"
    )
    return out, all_disjoint


def main() -> None:
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else REPO / ".data/est_sf10_best"
    cands = candidate_acc()
    if not cands:
        raise SystemExit("no sf10-capable model found (fine-tune one with `tools/train.py finetune` first)")
    # candidates report accuracy on the test split they were trained
    # against; each round's re-split changes the sf10 test set, so
    # cross-era numbers are not comparable. Restrict the tournament to
    # the NEWEST era that has a candidate and keep older ones only as
    # recorded also-rans.
    pool = cands
    for era in ("-r12", "-r11", "-r10", "-r9"):
        sub = [c for c in cands if c[2].endswith(era)]
        if sub:
            pool = sub
            break
    pool.sort(reverse=True)
    acc, path, label = pool[0]

    tmp = out.parent / (out.name + ".tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    shutil.copy(path, tmp / "model_gru.json")
    split_dir = next(
        (
            REPO / d
            for d in (
                ".data/est_sf10_r12",
                ".data/est_sf10_r11",
                ".data/est_sf10_r10",
                ".data/est_sf10_r9",
                ".data/est_sf10_split",
            )
            if (REPO / d / "calib.csv").exists() or (REPO / d / "test.csv").exists()
        ),
        REPO / ".data/est_sf10_split",
    )
    shutil.copy(split_dir / "schema.json", tmp / "schema.json")
    # Calibration-source tradeoff (ADVICE r8): the winner is chosen by
    # its accuracy on test.csv, so margins fit on test alone are
    # optimistically biased. But the disjoint calib carve alone (~58
    # rows) leaves nearly every bucket under the n>=5 floor
    # margins_from_calibration demands — and the abstain gate would
    # then keep the canonical order on ALL slow queries, silently
    # disabling the measured 3x win. Stage the calib+test UNION for
    # statistical power, DISCOUNT each bucket's accuracy by its
    # calib-row share (discount_by_calib_share), and record the
    # composition.
    from deep_query_optimization_spark.estimator import QueriesDataset

    calib_p, test_p = split_dir / "calib.csv", split_dir / "test.csv"
    calib_only_report: dict | None = None
    if calib_p.exists():
        union = QueriesDataset.load(str(calib_p))
        seen = {s for s, *_ in union.rows}
        for s, rt, plan in QueriesDataset.load(str(test_p)).rows:
            if s not in seen:
                union.add(s, rt, plan)
        calib_note = (
            "calib.csv+test.csv union (test also selected the winner; "
            "bucket accuracies discounted by calib-row share)"
        )
        # calib-only pass first: same model, same rows -> same predicted
        # buckets, so its per-bucket n IS the calib-row count per bucket
        shutil.copy(calib_p, tmp / "workload.csv")
        calib_only_report = run_calibration(
            tmp, tmp / "calibration_calib_only.json", ".data/sf10",
            cache=split_dir / "enc_cache.pkl",
        )
        union.save(str(tmp / "workload.csv"))
    else:
        shutil.copy(test_p, tmp / "workload.csv")
        calib_note = "test.csv (selection set — biased; no calib carve found)"
    union_report = run_calibration(
        tmp, tmp / "calibration_union.json", ".data/sf10", cache=split_dir / "enc_cache.pkl"
    )
    discounted = discount_by_calib_share(union_report, calib_only_report)
    final, disjoint = merge_disjoint_margins(discounted, calib_only_report)
    # r11 verdict "what's wrong" #3: on the two measured winning
    # reorders the model's ABSOLUTE estimates for hinted variants were
    # ~6-7x pessimistic (est 9.6s/7.9s vs wall 1.66s/1.12s,
    # reports/learned_hints_sf10_slow_r11.json) while the RANKING was
    # right both times. Consumers of this calibration must treat
    # estimate magnitudes (min_gain_s thresholds, broadcast byte
    # cutoffs) as untrusted; only per-bucket class + margin carry
    # calibrated meaning. Recorded here so the caveat travels with the
    # staged serving dir instead of living in a round report.
    final["magnitude_note"] = (
        "absolute runtime estimates on hint-variant plans measured ~6-7x "
        "pessimistic vs wall-clock (learned_hints_sf10_slow_r11.json); "
        "trust bucket ranking and per-bucket margins, not estimate deltas"
    )
    (tmp / "calibration.json").write_text(json.dumps(final, indent=1))
    (tmp / "choice.json").write_text(
        json.dumps(
            {
                "family": "gru",
                "label": label,
                "accuracy": round(acc, 4),
                "source": path,
                "calibration_source": calib_note,
                # True iff every bucket that can grant override authority
                # (n>=5 in the merged per_bucket_predicted) was fit on
                # calib-only rows the winner never saw during selection
                "calibration_disjoint_from_selection": disjoint,
                "candidates": [{"label": lb, "accuracy": round(a, 4)} for a, _, lb in cands],
            },
            indent=1,
        )
    )

    # swap: the serving dir is either the complete old staging or the
    # complete new one, never a mix
    old = out.parent / (out.name + ".old")
    if old.exists():
        shutil.rmtree(old)
    if out.exists():
        out.rename(old)
    tmp.rename(out)
    if old.exists():
        shutil.rmtree(old)
    (REPO / "reports").mkdir(exist_ok=True)
    shutil.copy(out / "calibration.json", REPO / "reports/estimator_calibration_sf10.json")
    print(f"staged {label} (sf10 test acc {acc:.3f}) -> {out}")


if __name__ == "__main__":
    main()
