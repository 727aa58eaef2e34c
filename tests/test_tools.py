"""The corpus and training tools: every tool that loads a model family
imports cleanly, and the pure helpers of the graceful best-model pick
(``tools/pick_best_model.py``) and the held-out scrub
(``tools/filter_workload.py``)."""

import importlib
import json

import pytest

from deep_query_optimization_spark.estimator import QueriesDataset
from tools.filter_workload import filter_dir
from tools.pick_best_model import collect_candidates, collect_sweep_candidates, pick


def test_model_tools_import():
    """The tools that train or serve a model family import cleanly, so a
    broken import fails here rather than in the next training run."""
    for tool in ("hint_report", "calibration_report", "train"):
        importlib.import_module(f"tools.{tool}")


def _mk_train_root(tmp_path, accs):
    root = tmp_path / "train"
    models = {}
    for fam, acc in accs.items():
        (root / fam).mkdir(parents=True)
        (root / fam / f"model_{fam}.json").write_text("{}")
        models[fam] = {"test": {"accuracy": acc}, "test_calibrated": {"accuracy": acc + 0.01}}
    root.mkdir(exist_ok=True)
    (root / "report.json").write_text(json.dumps({"models": models}))
    return root


def test_collect_candidates_skips_missing(tmp_path):
    train = _mk_train_root(tmp_path, {"gru": 0.6, "treelstm": 0.55})
    ft = tmp_path / "ft"  # doesn't exist at all
    cands = collect_candidates(train, ft)
    assert {c[1] for c in cands} == {"gru", "treelstm"}
    assert all(lbl == "scratch-clean" for _, _, _, lbl in cands)


def test_pick_prefers_finetuned_when_better(tmp_path):
    train = _mk_train_root(tmp_path, {"gru": 0.6})
    ft = tmp_path / "ft"
    ft.mkdir()
    (ft / "finetune_gru.json").write_text(
        json.dumps({"after": {"accuracy": 0.7}, "after_calibrated": {"accuracy": 0.72}})
    )
    (ft / "model_gru_finetuned.json").write_text("{}")
    schema = tmp_path / "schema.json"
    schema.write_text("{}")
    test_csv = tmp_path / "test.csv"
    test_csv.write_text("query,runtime,plan\n")
    best = tmp_path / "best"
    choice = pick(train, ft, best, schema, test_csv)
    assert choice["family"] == "gru"
    assert choice["label"] == "pretrain+clean-ft"
    assert choice["accuracy"] == 0.72
    assert (best / "model_gru.json").exists()
    assert (best / "workload.csv").read_text().startswith("query,")
    assert len(choice["candidates"]) == 2


def test_pick_raises_when_nothing_trained(tmp_path):
    with pytest.raises(SystemExit):
        pick(tmp_path / "none", tmp_path / "none2", tmp_path / "b", tmp_path / "s", tmp_path / "t")


def test_sweep_candidates_join_the_pick(tmp_path, monkeypatch):
    """A capacity-sweep config that beats scratch/finetune must win the
    pick, with its (embed x hidden) config recorded in the label."""
    train = _mk_train_root(tmp_path, {"gru": 0.6})
    sweep = tmp_path / "sweep"
    for tag, fam, acc in [("gru_64x64", "gru", 0.75), ("mscn_64x64", "mscn", 0.99), ("cnn_96x96", "cnn", 0.62)]:
        d = sweep / tag
        d.mkdir(parents=True)
        (d / f"model_{fam}.json").write_text("{}")
        (d / "report.json").write_text(
            json.dumps({"models": {fam: {"test": {"accuracy": acc}, "test_calibrated": {"accuracy": acc}}}})
        )
    fams = ("gru", "treelstm", "gerelt4", "cnn")
    cands = collect_sweep_candidates([str(sweep)], fams)
    # mscn excluded (not servable by the report tools), gru + cnn in
    assert {(c[1], c[3]) for c in cands} == {
        ("gru", "capacity-sweep 64x64"),
        ("cnn", "capacity-sweep 96x96"),
    }

    schema = tmp_path / "schema.json"
    schema.write_text("{}")
    test_csv = tmp_path / "test.csv"
    test_csv.write_text("query,runtime,plan\n")
    monkeypatch.setenv("DQO_SWEEP_DIRS", str(sweep))
    choice = pick(train, tmp_path / "noft", tmp_path / "best", schema, test_csv, fams)
    assert choice["family"] == "gru"
    assert choice["label"] == "capacity-sweep 64x64"
    assert choice["accuracy"] == 0.75


def test_filter_workload_drops_heldout_rows(tmp_path):
    """The pretrain-corpus scrub removes exactly the rows whose SQL is
    in a held-out CSV, keeps the rest, and rewrites in place."""
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    ds = QueriesDataset()
    ds.add("SELECT 1 AS a FROM t", 0.5)
    ds.add("SELECT 2 AS a FROM t", 1.0)
    ds.add("SELECT 3 AS a FROM t", 2.0)
    ds.save(str(corpus / "workload.csv"))

    held = QueriesDataset()
    held.add("SELECT 2 AS a FROM t", 1.1)  # same SQL, different label
    held.save(str(tmp_path / "test_clean.csv"))

    kept, dropped = filter_dir(corpus, [tmp_path / "test_clean.csv"])
    assert (kept, dropped) == (2, 1)
    back = QueriesDataset.load(str(corpus / "workload.csv"))
    assert {sql for sql, _, _ in back.rows} == {"SELECT 1 AS a FROM t", "SELECT 3 AS a FROM t"}


def test_train_fanned_out_weights_equal_in_process(spark, sf_dir, tmp_path, monkeypatch):
    """``tools/train.py train`` over two families fits them on spawned
    workers after one encode pass; the saved weights are byte-equal to
    the same fits run in-process, and every family directory is a
    complete est_dir."""
    import shutil
    from pathlib import Path

    from tools import train as tool

    repo = Path(__file__).resolve().parent.parent
    workload = tmp_path / "w"
    workload.mkdir()
    rows = QueriesDataset.load(str(repo / "artifacts" / "est_r11" / "workload.csv")).rows[:8]
    QueriesDataset(rows).save(str(workload / "workload.csv"))
    snapshot = repo / "deep_query_optimization_spark" / "snapshots" / "sf0.01_schema.json"
    shutil.copy(snapshot, workload / "schema.json")
    monkeypatch.setenv("DQO_EPOCHS", "1")
    fams = ["mlp", "neo"]

    monkeypatch.setattr(tool, "default_parallelism", lambda: 2)
    fanned = tool.train(spark, workload, sf_dir, tmp_path / "fan", fams)
    monkeypatch.setattr(tool, "default_parallelism", lambda: 1)
    in_process = tool.train(spark, workload, sf_dir, tmp_path / "one", fams)

    assert list(fanned["models"]) == fams
    for fam in fams:
        fam_dir, model = tmp_path / "fan" / fam, f"model_{fam}.json"
        assert (fam_dir / model).read_bytes() == (tmp_path / "one" / fam / model).read_bytes()
        assert {p.name for p in fam_dir.iterdir()} == {model, "report.json", "workload.csv", "schema.json"}
        for res in (fanned["models"][fam], in_process["models"][fam]):
            res.pop("fit_seconds")
    assert fanned == in_process
    assert json.loads((tmp_path / "fan" / "report.json").read_text())["n"] == 8
