"""Drop rows from a labeled workload whose SQL appears in held-out CSVs.

Guards the noisy-pretrain/clean-finetune recipe: the pretrain corpus
comes from co-located generators whose random streams can, rarely,
emit a query that is also in the frozen clean test or calibration
split. ``tools/train.py``'s leak guard only checks the corpus it
trains on directly — weights PRE-trained on a held-out query would
sneak the same leak in through the fine-tune stage's starting point,
so the pretrain corpus must be scrubbed against the held-out sets
before any training sees it.

Usage:
    python tools/filter_workload.py corpus_dir heldout.csv [heldout2.csv ...]

Rewrites ``corpus_dir/workload.csv`` in place (atomic via the dataset's
save) and prints how many rows were dropped.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from deep_query_optimization_spark.estimator import QueriesDataset  # noqa: E402


def filter_dir(corpus_dir: Path, heldout_csvs: list[Path]) -> tuple[int, int]:
    """Remove held-out SQLs from corpus_dir/workload.csv; returns
    (kept, dropped)."""
    held: set[str] = set()
    for p in heldout_csvs:
        held |= {sql for sql, _, _ in QueriesDataset.load(str(p)).rows}
    ds = QueriesDataset.load(str(corpus_dir / "workload.csv"))
    kept = QueriesDataset()
    dropped = 0
    for sql, rt, plan in ds.rows:
        if sql in held:
            dropped += 1
            continue
        kept.add(sql, rt, plan)
    kept.save(str(corpus_dir / "workload.csv"))
    return len(kept.rows), dropped


def main() -> None:
    corpus_dir = Path(sys.argv[1])
    heldout = [Path(p) for p in sys.argv[2:]]
    kept, dropped = filter_dir(corpus_dir, heldout)
    print(f"{corpus_dir}: kept {kept}, dropped {dropped} held-out rows")


if __name__ == "__main__":
    main()
