"""Pick the best structural cost model by clean-test accuracy and
assemble a serving directory for the calibration/hint/report tools.

Candidates come from two recipes the label-noise study set against each
other (reports/estimator_label_noise.json):
  - scratch-clean: trained from scratch on the quiet-relabeled corpus
    (<train_root>/report.json, ``tools/train.py train`` output)
  - pretrain+clean-ft: round-5 noisy-pretrained weights fine-tuned on
    the same clean corpus (<ft_root>/finetune_<fam>.json,
    ``tools/train.py finetune`` output)

For each candidate the score is max(raw, affine-calibrated) clean-test
accuracy — the same quantity BASELINE.md reports for the reference
(best acc 0.836, ``dqo/estimator/gerelt/v15`` artifacts).

The winner's weights are copied into <best_dir> together with
schema.json and the frozen clean TEST set as workload.csv, which is the
exact layout tools/calibration_report.py and tools/hint_report.py
consume. choice.json records what won and why. The default <best_dir>,
.data/est_best, is the directory ``DQOEngine.load_best`` serves from.

Usage:
    python tools/pick_best_model.py <train_root> <ft_root> <best_dir> \
        <schema.json> <test_clean.csv> [fam1,fam2,...]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from pathlib import Path

STRUCTURAL = ("gru", "treelstm", "gerelt4")


def collect_candidates(
    train_root: Path, ft_root: Path, families=STRUCTURAL
) -> list[tuple[float, str, str, str]]:
    """[(accuracy, family, model_path, recipe_label)] — missing files
    are skipped, never fatal: the pipeline must pick the best of what
    actually trained, not die because one phase was lost."""
    cands: list[tuple[float, str, str, str]] = []
    rep = train_root / "report.json"
    if rep.exists():
        models = json.loads(rep.read_text()).get("models", {})
        for fam in families:
            m = models.get(fam)
            path = train_root / fam / f"model_{fam}.json"
            if m and path.exists():
                acc = max(
                    m.get("test", {}).get("accuracy", 0.0),
                    m.get("test_calibrated", {}).get("accuracy", 0.0),
                )
                cands.append((acc, fam, str(path), "scratch-clean"))
    for fam in families:
        ft = ft_root / f"finetune_{fam}.json"
        path = ft_root / f"model_{fam}_finetuned.json"
        if ft.exists() and path.exists():
            r = json.loads(ft.read_text())
            acc = max(
                r.get("after", {}).get("accuracy", 0.0),
                r.get("after_calibrated", {}).get("accuracy", 0.0),
            )
            cands.append((acc, fam, str(path), "pretrain+clean-ft"))
    return cands


def collect_sweep_candidates(sweep_roots, families) -> list[tuple[float, str, str, str]]:
    """Capacity-sweep candidates (``tools/train.py sweep`` layout:
    <root>/<family>_<embed>x<hidden>[a<aug>]/report.json + model file).
    Only families the serving tools can load are eligible; missing or
    failed configs are skipped."""
    cands: list[tuple[float, str, str, str]] = []
    for root in sweep_roots:
        root = Path(root)
        if not root.is_dir():
            continue
        for d in sorted(root.iterdir()):
            rep = d / "report.json"
            if not rep.exists() or "_" not in d.name:
                continue
            fam = d.name.split("_", 1)[0]
            path = d / f"model_{fam}.json"
            if fam not in families or not path.exists():
                continue
            m = json.loads(rep.read_text()).get("models", {}).get(fam)
            if not m:
                continue
            acc = max(
                m.get("test", {}).get("accuracy", 0.0),
                (m.get("test_calibrated") or {}).get("accuracy", 0.0),
            )
            cands.append((acc, fam, str(path), f"capacity-sweep {d.name.split('_', 1)[1]}"))
    return cands


def pick(
    train_root: Path,
    ft_root: Path,
    best_dir: Path,
    schema: Path,
    test_csv: Path,
    families=STRUCTURAL,
) -> dict:
    cands = collect_candidates(train_root, ft_root, families)
    # DQO_FT_DIRS_EXTRA: additional fine-tune output dirs (same layout
    # as ft_root) — e.g. an augmentation-variant run beside the plain one
    for extra in (p for p in os.environ.get("DQO_FT_DIRS_EXTRA", "").split(",") if p):
        for acc, fam, path, label in collect_candidates(Path("/nonexistent"), Path(extra), families):
            cands.append((acc, fam, path, f"{label} ({Path(extra).name})"))
    sweep_dirs = [p for p in os.environ.get("DQO_SWEEP_DIRS", "").split(",") if p]
    if sweep_dirs:
        cands += collect_sweep_candidates(sweep_dirs, families)
    if not cands:
        raise SystemExit(f"no trained models found under {train_root} / {ft_root}")
    cands.sort(key=lambda c: c[0], reverse=True)
    acc, fam, path, label = cands[0]
    best_dir.mkdir(parents=True, exist_ok=True)
    shutil.copy(path, best_dir / f"model_{fam}.json")
    shutil.copy(schema, best_dir / "schema.json")
    # calibration_report scores <dir>/workload.csv -> serve the frozen
    # clean test set under that name (the round-5 protocol)
    shutil.copy(test_csv, best_dir / "workload.csv")
    choice = {
        "family": fam,
        "label": label,
        "accuracy": round(acc, 4),
        "source": path,
        "candidates": [
            {"family": f, "label": lbl, "accuracy": round(a, 4)} for a, f, _, lbl in cands
        ],
    }
    (best_dir / "choice.json").write_text(json.dumps(choice, indent=1))
    return choice


def main() -> None:
    train_root = Path(sys.argv[1] if len(sys.argv) > 1 else ".data/est_r6")
    ft_root = Path(sys.argv[2] if len(sys.argv) > 2 else ".data/ft_r6")
    best_dir = Path(sys.argv[3] if len(sys.argv) > 3 else ".data/est_best")
    schema = Path(sys.argv[4] if len(sys.argv) > 4 else ".data/est_clean_full/schema.json")
    test_csv = Path(sys.argv[5] if len(sys.argv) > 5 else ".data/est_split/test_clean.csv")
    fams = tuple(sys.argv[6].split(",")) if len(sys.argv) > 6 else STRUCTURAL
    choice = pick(train_root, ft_root, best_dir, schema, test_csv, fams)
    print(json.dumps(choice, indent=1))


if __name__ == "__main__":
    main()
