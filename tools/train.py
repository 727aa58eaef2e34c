"""One training tool for the cost-model families — the reference's
``train_tpch.py`` (``dqo/estimator/gerelt/v20/train_tpch.py``) with its
model-family comparison (``dqo/estimator/evaluate.py:354``).

Every subcommand runs the same steps: a Spark session, the stats
snapshot, optional augmentation, one encode pass through
``DQOEngine.encode``, the fits, scoring and the reports. Fits fan out
over worker processes once the encodings are in hand.

Usage:
    python tools/train.py train <workload_dir> <sf_dir> <out_root> [fam1,fam2,...]
    python tools/train.py train [sf_dir] [n_queries] [out_dir]
    python tools/train.py sweep <workload_dir> <sf_dir> <out_root> <family> \\
        [cfg1,cfg2,...] [out_json]
    python tools/train.py joint OUT_DIR SPEC [SPEC ...]
    python tools/train.py finetune clean_train_csv model_json family out_dir \\
        [sf_dir] [test_csv] [calib_csv]

train
    Trains the families (default ``DQO_FAMILIES``, else all eight: the
    linear baseline, the five ``FAMILIES`` models, MSCN and Neo) on one
    split of ``<workload_dir>/workload.csv``. Each family gets
    ``<out_root>/<family>/`` holding ``model_<family>.json``, its
    ``report.json`` and links to ``workload.csv`` and ``schema.json``, so
    the directory is a complete est_dir for calibration_report.py and
    hint_report.py. ``<out_root>/report.json`` merges the family reports.
    In the second form the workload and the output share ``out_dir``;
    when ``workload.csv`` is missing, ``n_queries`` balanced labeled
    queries are generated into it first (BalancedQueryGen against live
    Spark: the histogram-filling loop widens the runtime-bucket spread).
sweep
    Trains one family at several sizes ``<embed>x<hidden>[a<aug>]``
    (e.g. ``32x32,64x64,96x96``; ``64x64a4`` also sets DQO_AUG=4) into
    ``<out_root>/<family>_<config>/``, the train layout, against the
    same frozen test/calib sets, and writes the configs ranked by
    held-out accuracy to ``out_json``. The round-6 question it answers:
    with label noise gone, are the 32/32 defaults (the reference's
    smallest gerelt configs) the binding constraint?
joint
    Trains ONE checkpoint per family over several scales' corpora into
    OUT_DIR. SPEC = name:corpus_dir:sf_dir[:repeat]; corpus_dir holds
    workload.csv (train rows), schema.json (that scale's stats) and
    optionally test.csv. ``repeat`` oversamples a scale's train rows.
    The scale signal reaches the model through the encodings: each
    scale's rows are encoded against its OWN stats snapshot, so the same
    SQL encodes differently at sf1 and sf10 (a single-scale sf1 model
    scores 0.175 zero-shot on sf10 labels). Scales are encoded strictly
    one after another, because ``load_tables`` registers temp views
    under fixed names. One encoding per run: train plan and tree
    families separately.
finetune
    Continues a noisy-pretrained model on a clean relabeled subset
    (``fit`` resumes Adam from the saved weights): the pretrained model
    learned the structure, the clean labels sharpen its runtime mapping.
    Writes ``model_<family>_finetuned.json`` and
    ``finetune_<family>.json`` (before/after metrics) into out_dir.

Knobs (environment):
    DQO_EPOCHS / DQO_BATCH / DQO_LR   training loop: 150 / full batch / 2e-3
                                      (finetune: 40 / 32 / 1e-3)
    DQO_EMBED / DQO_HIDDEN            capacity: 32 / 32 (joint: 64 / 64)
    DQO_<KNOB>_<FAM>                  train: per-family override of EPOCHS,
                                      BATCH, LR, AUG, EMBED or HIDDEN
    DQO_AUG                           equivalent-emission augmentation of the
                                      train rows (default 0 = off): each row
                                      adds up to N-1 permuted/flipped
                                      emissions with its runtime label
                                      (reference DatasetAugmenter,
                                      ``datasets/__init__.py:177-209``). The
                                      set-based MSCN/Neo encodings are
                                      emission-order invariant, so those two
                                      families train on the original rows.
    DQO_FAMILIES                      train: comma list (default all eight);
                                      joint: default gru
    DQO_TEST_CSV / DQO_CALIB_CSV      train/sweep: external held-out test set
                                      (the whole workload becomes train) and a
                                      quiet-relabeled calibration set: per
                                      family, fit pred' = a*pred + b on the
                                      calib labels and report the calibrated
                                      test metrics beside the raw ones.
                                      Held-out SQL found in the workload is a
                                      leak and stops the run.
    DQO_REBALANCE=<min>:<max>         train/sweep: cap each log2 bucket of the
                                      train rows at <max> and repeat scarce
                                      buckets' rows up to <min> (the corpus is
                                      fast-bucket heavy, ~5:1)
    DQO_INIT=<model_json>             joint: warm-start from a checkpoint
    DQO_ENC_CACHE=<path>              persisted encoding memo of the engine
                                      (sweep: default <workload_dir>/
                                      enc_cache.pkl; joint always uses
                                      <corpus_dir>/enc_cache.pkl)
    DQO_BUCKET_LO / DQO_BUCKET_HI     workload generation: Log2Partitioner
                                      range (default -3..2)
    DQO_TIMEOUT_S / DQO_BUDGET_S      workload generation: per-query watchdog
                                      (30) and wall budget (420)
"""

from __future__ import annotations

import json
import math
import multiprocessing
import os
import random
import re
import sys
import time
from collections import Counter
from concurrent.futures import ProcessPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from deep_query_optimization_spark.engine import DQOEngine  # noqa: E402
from deep_query_optimization_spark.estimator import QueriesDataset  # noqa: E402
from deep_query_optimization_spark.estimator.evaluate import fit_affine, score  # noqa: E402
from deep_query_optimization_spark.estimator.metrics import bucketize  # noqa: E402
from deep_query_optimization_spark.estimator.model import (  # noqa: E402
    FAMILIES,
    CNNCostModel,
    LinearCostModel,
    MLPCostModel,
)
from deep_query_optimization_spark.estimator.mscn import MSCNCostModel, MSCNEncoder  # noqa: E402
from deep_query_optimization_spark.estimator.neo import NeoCostModel, NeoEncoder  # noqa: E402
from deep_query_optimization_spark.generator.partitioner import Log2Partitioner  # noqa: E402
from deep_query_optimization_spark.session import default_parallelism, get_spark  # noqa: E402

CLASSES = {"linear": LinearCostModel, **FAMILIES, "mscn": MSCNCostModel, "neo": NeoCostModel}
KNOBS = ("EPOCHS", "BATCH", "LR", "AUG", "EMBED", "HIDDEN")
TRAIN_KNOBS = {"EPOCHS": "150", "BATCH": "0", "LR": "2e-3", "AUG": "0", "EMBED": "32", "HIDDEN": "32"}
# numpy's BLAS starts a thread per core in every fit worker; uncapped, a
# pool of them oversubscribes the box (loadavg >120 seen on 32 cores)
BLAS_THREADS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


# -- shared steps ----------------------------------------------------------


def env_cache(default: Path | None = None) -> str | None:
    """Path of the engine's persisted encoding memo: ``DQO_ENC_CACHE``,
    else ``default``; set but empty means none."""
    return os.environ.get("DQO_ENC_CACHE", str(default) if default else "") or None


def open_engine(spark, sf_dir: str, schema_path: Path, encode_cache: str | None = None) -> DQOEngine:
    engine = DQOEngine(spark, sf_dir, snapshot_path=str(schema_path), encode_cache=encode_cache)
    engine.snapshot()
    print(f"schema+stats snapshot: {len(engine.db)} tables")
    return engine


def knobs(env, **defaults: str) -> dict:
    """The training knobs ``DQO_<KNOB>`` read from ``env``, else ``defaults``."""

    def get(name: str) -> str:
        return env.get(f"DQO_{name}", defaults.get(name, "0"))

    return {
        "epochs": int(get("EPOCHS")),
        "batch": int(get("BATCH")) or None,
        "lr": float(get("LR")),
        "aug": int(get("AUG")),
        "embed": int(get("EMBED")),
        "hidden": int(get("HIDDEN")),
    }


def augment(engine: DQOEngine, pairs: list[tuple[str, float]], n: int) -> list[tuple[str, float]]:
    """Up to ``n``-1 extra equivalent emissions of each (sql, runtime)
    row, with the row's runtime. Rows the Query IR cannot lift (e.g.
    timeout-censored leftovers) are skipped, reported in one line."""
    from deep_query_optimization_spark.generator.augment import permutations

    t0 = time.time()
    rng = random.Random(7)
    out: list[tuple[str, float]] = []
    skipped, first = 0, None
    for sql, rt in pairs:
        try:
            q = engine.parse(sql)
            # [0] is the canonical emission == the original row
            out += [(v, rt) for v in permutations(q, limit=n, seed=rng.randint(0, 2**31))[1:]]
        except Exception as exc:
            skipped += 1
            first = first or exc
    print(
        f"augmented: +{len(out)} emissions from {len(pairs)} rows in {time.time() - t0:.0f}s"
        + (f"; skipped {skipped} rows, first error {type(first).__name__}: {first}" if skipped else "")
    )
    return out


def leak_guard(train_rows, *held_out: QueriesDataset) -> None:
    held = {sql for ds in held_out for sql, _, _ in ds.rows}
    leaked = held & {sql for sql, _, _ in train_rows}
    if leaked:
        raise SystemExit(
            f"held-out leak: {len(leaked)} test/calib queries also appear in the "
            "training rows — use tools/split_workload.py to freeze a disjoint split first"
        )


def _runtimes(rows) -> list[float]:
    return [row[1] for row in rows]


# -- the fan-out -------------------------------------------------------------


def run_fits(fits: list[tuple], sets: dict) -> list:
    """Fit each (model, set_key, fit_kwargs) on ``sets[set_key]`` =
    (plans, runtimes). Returns, in order, (fitted model, fit seconds) or
    the exception the fit raised.

    The fits fan out over min(#fits, default_parallelism()) processes;
    one means in-process. Workers only fit numpy models and never touch
    Spark, and they are spawned, not forked, since this process runs
    the JVM's threads. Each worker gets the training sets once and
    caps its BLAS threads at 4 unless the environment says otherwise."""
    workers = min(len(fits), default_parallelism())
    if workers <= 1:
        return [_guarded(_fit, f, sets) for f in fits]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(workers, mp_context=ctx, initializer=_init_worker, initargs=(sets,)) as pool:
        with _blas_capped():  # workers are spawned as fits are submitted
            futures = [pool.submit(_fit_in_worker, f) for f in fits]
        return [_guarded(f.result) for f in futures]


def _fit(fit: tuple, sets: dict) -> tuple:
    model, key, kwargs = fit
    plans, runtimes = sets[key]
    t0 = time.time()
    model.fit(plans, runtimes, **kwargs)
    return model, time.time() - t0


def _guarded(fn, *args):
    try:
        return fn(*args)
    except Exception as exc:
        return exc


_worker_sets: dict = {}


def _init_worker(sets: dict) -> None:
    _worker_sets.update(sets)


def _fit_in_worker(fit: tuple) -> tuple:
    return _fit(fit, _worker_sets)


@contextmanager
def _blas_capped():
    added = [k for k in BLAS_THREADS if k not in os.environ]
    os.environ.update({k: "4" for k in added})
    try:
        yield
    finally:
        for k in added:
            os.environ.pop(k, None)


# -- train and sweep -------------------------------------------------------


def new_model(family: str, width: int, db, embed: int, hidden: int):
    if family == "linear":
        return LinearCostModel()
    if family == "mlp":
        return MLPCostModel(in_dim=width, seed=0)
    if family == "cnn":
        # the filter count tracks the embed width, so the conv feature
        # map widens with the embedding it reads
        return CNNCostModel(
            in_dim=width, embed_dim=embed, n_filters=max(16, embed // 2), hidden=hidden, seed=0
        )
    if family == "mscn":
        return MSCNCostModel(widths=MSCNEncoder(db).widths, hidden=hidden, seed=0)
    if family == "neo":
        return NeoCostModel(in_dim=NeoEncoder(db).width, seed=0)
    return FAMILIES[family](in_dim=width, embed_dim=embed, hidden=hidden, seed=0)


def held_out_split(ds: QueriesDataset) -> tuple[QueriesDataset, QueriesDataset, QueriesDataset | None]:
    """(train, test, calib): DQO_TEST_CSV/DQO_CALIB_CSV when set, else a
    stratified 80/20 split; then DQO_REBALANCE on the train rows."""
    test_csv = os.environ.get("DQO_TEST_CSV")
    calib = None
    if test_csv:
        # the whole workload becomes train, so disjointness is the caller's
        # responsibility: held-out SQL in train would inflate every score
        train, test = ds, QueriesDataset.load(test_csv)
        calib_csv = os.environ.get("DQO_CALIB_CSV")
        if calib_csv:
            calib = QueriesDataset.load(calib_csv)
        leak_guard(train.rows, test, *([calib] if calib else []))
        print(
            f"external split: train {len(train.rows)} / test {len(test.rows)}"
            + (f" / calib {len(calib.rows)}" if calib else "")
        )
    else:
        train, test = ds.stratified_split(0.2, seed=0)

    # a regression loss dominated by the fast buckets starves exactly the
    # upper buckets macro-F1 measures; duplicated rows stay inside train
    # (leak-free) and diverge under augmentation
    rebalance = os.environ.get("DQO_REBALANCE")
    if rebalance:
        min_n, max_n = (int(x) for x in rebalance.split(":"))
        by_bucket: dict[int, list] = {}
        for row in train.rows:
            by_bucket.setdefault(bucketize(row[1]), []).append(row)
        rng = random.Random(3)
        rows = []
        for _, kept in sorted(by_bucket.items()):
            rng.shuffle(kept)
            kept = kept[:max_n]
            reps = -(-min_n // len(kept)) if len(kept) < min_n else 1
            rows += (kept * reps)[: max(min_n, len(kept))]
        print(f"rebalanced train: {len(train.rows)} -> {len(rows)} rows (min {min_n}/bucket, cap {max_n})")
        train = QueriesDataset(rows)
    return train, test, calib


def train_jobs(engine: DQOEngine, ds: QueriesDataset, workload_dir: Path, out_root: Path, jobs) -> list:
    """Train each job (tag, family, knobs) on one split of ``ds`` into
    ``<out_root>/<tag>/``: the model, its report.json and links to the
    workload and stats snapshot. Returns each job's report, or the
    exception its fit raised."""
    occupied = dict(sorted(Counter(ds.buckets()).items()))
    print(f"workload: {len(ds.rows)} labeled queries, bucket histogram {occupied} ({len(occupied)} occupied)")
    train, test, calib = held_out_split(ds)
    pairs = [(sql, rt) for sql, rt, _ in train.rows]

    # a job's training set: its encoding, plus its augmentation factor
    # for the plan encodings (the set encodings ignore emission order)
    def set_key(family: str, k: dict) -> tuple[str, int]:
        kind = CLASSES[family].ENCODING
        return kind, k["aug"] if k["aug"] > 1 and kind in ("plan", "tree") else 0

    keys = {set_key(fam, k) for _, fam, k in jobs}
    augmented = {n: augment(engine, pairs, n) for n in sorted({n for _, n in keys if n})}
    held = [sql for sql, _, _ in test.rows] + ([sql for sql, _, _ in calib.rows] if calib else [])
    t0 = time.time()
    encoded, sets = {}, {}
    for kind in dict.fromkeys(kind for kind, _ in sorted(keys)):
        extra = [sql for kk, n in sorted(keys) if kk == kind and n for sql, _ in augmented[n]]
        sqls = [sql for sql, _ in pairs] + extra + held
        encoded[kind] = dict(zip(sqls, engine.encode(kind, sqls)))
    for kind, n in keys:
        rows = pairs + augmented.get(n, [])
        sets[(kind, n)] = ([encoded[kind][sql] for sql, _ in rows], _runtimes(rows))
    engine.save_encodings()
    print(f"encoding cache: {engine.encode_cache_info()}")
    print(f"encoded {len(keys)} training sets (+{len(test.rows)} test) in {time.time() - t0:.0f}s")

    fits = []
    for _, fam, k in jobs:
        model = new_model(fam, engine.encoder.width, engine.db, k["embed"], k["hidden"])
        kwargs = {} if fam == "linear" else {"epochs": k["epochs"], "lr": k["lr"], "batch_size": k["batch"]}
        fits.append((model, set_key(fam, k), kwargs))
    reports = []
    for (tag, fam, k), (_, key, _), result in zip(jobs, fits, run_fits(fits, sets)):
        if isinstance(result, Exception):
            print(f"{tag}: FAILED {type(result).__name__}: {result}", flush=True)
            reports.append(result)
            continue
        model, fit_s = result
        te = [encoded[key[0]][sql] for sql, _, _ in test.rows]
        res = {
            "train": score(model, *sets[key]),
            "test": score(model, te, _runtimes(test.rows)),
            "fit_seconds": round(fit_s, 1),
        }
        if calib:
            ca = [encoded[key[0]][sql] for sql, _, _ in calib.rows]
            affine = fit_affine(model, ca, _runtimes(calib.rows))
            res["affine"] = [round(affine[0], 4), round(affine[1], 4)]
            res["test_calibrated"] = score(model, te, _runtimes(test.rows), affine=affine)
        d = out_root / tag
        d.mkdir(parents=True, exist_ok=True)
        for name in ("workload.csv", "schema.json"):
            src, dst = workload_dir / name, d / name
            if src.exists() and not dst.exists():
                dst.symlink_to(src.resolve())
        if hasattr(model, "save"):
            model.save(str(d / f"model_{fam}.json"))
        rep = {
            "n": len(ds.rows),
            "bucket_histogram": occupied,
            "augmented_rows": len(augmented.get(key[1], [])),
            "epochs": k["epochs"],
            "batch_size": k["batch"],
            "models": {fam: res},
        }
        (d / "report.json").write_text(json.dumps(rep, indent=1))
        reports.append(rep)
        print(f"{tag:7s} test: {({m: round(v, 3) for m, v in res['test'].items()})}", flush=True)
    return reports


def family_env(family: str) -> dict:
    """The environment with each ``DQO_<KNOB>_<FAM>`` override applied."""
    env = dict(os.environ)
    for knob in KNOBS:
        per_family = os.environ.get(f"DQO_{knob}_{family.upper()}")
        if per_family is not None:
            env[f"DQO_{knob}"] = per_family
    return env


def train(spark, workload_dir: Path, sf_dir: str, out_root: Path, families, n: int = 0) -> dict:
    """Train ``families`` on ``<workload_dir>/workload.csv`` (generated
    with ``n`` queries when missing) into ``<out_root>/<family>/``;
    returns the merged report, also written to ``<out_root>/report.json``."""
    engine = open_engine(spark, sf_dir, workload_dir / "schema.json", env_cache())
    csv = workload_dir / "workload.csv"
    if csv.exists():
        ds = QueriesDataset.load(str(csv))
        print(f"reusing existing workload: {len(ds.rows)} rows")
    else:
        # runaway join -> canceled, labeled at the cap; a narrow
        # partitioner gives local runtimes something to balance
        engine.runner.timeout_s = float(os.environ.get("DQO_TIMEOUT_S", "30"))
        partitioner = Log2Partitioner(
            int(os.environ.get("DQO_BUCKET_LO", "-3")), int(os.environ.get("DQO_BUCKET_HI", "2"))
        )
        budget_s = float(os.environ.get("DQO_BUDGET_S", "420"))
        ds = engine.generate_workload(n, seed=42, partitioner=partitioner, time_budget_s=budget_s)
        workload_dir.mkdir(parents=True, exist_ok=True)
        ds.save(str(csv))
    jobs = [(fam, fam, knobs(family_env(fam), **TRAIN_KNOBS)) for fam in families]
    merged: dict = {"models": {}}
    for rep in train_jobs(engine, ds, workload_dir, out_root, jobs):
        if isinstance(rep, dict):
            for k, v in rep.items():
                if k != "models":
                    merged.setdefault(k, v)
            merged["models"].update(rep["models"])
    out_root.mkdir(parents=True, exist_ok=True)
    (out_root / "report.json").write_text(json.dumps(merged, indent=1))
    print(f"merged report -> {out_root / 'report.json'} ({len(merged['models'])} families)")
    if "mlp" in merged["models"]:
        engine.load_estimator(str(out_root / "mlp" / "model_mlp.json"))
        sql = "SELECT MIN(l.l_extendedprice) FROM lineitem l, orders o WHERE l.l_orderkey = o.o_orderkey"
        print(f"estimate({sql[:50]}...) -> {engine.estimate(sql):.3f}s, bucket {engine.estimate_bucket(sql)}")
    return merged


def parse_cfg(tok: str) -> dict:
    m = re.fullmatch(r"(\d+)x(\d+)(?:a(\d+))?", tok)
    if not m:
        raise SystemExit(f"bad config {tok!r} (want <embed>x<hidden>[a<aug>])")
    return {"embed": int(m.group(1)), "hidden": int(m.group(2)), "aug": int(m.group(3) or 0)}


def sweep(spark, workload_dir: Path, sf_dir: str, out_root: Path, family: str, cfgs, out_json: str) -> dict:
    """Train ``family`` at each config of ``cfgs`` (``parse_cfg`` dicts)
    into ``<out_root>/<family>_<config>/``; writes and returns the
    summary ranked by held-out accuracy."""
    cache = env_cache(workload_dir / "enc_cache.pkl")
    engine = open_engine(spark, sf_dir, workload_dir / "schema.json", cache)
    ds = QueriesDataset.load(str(workload_dir / "workload.csv"))
    jobs = []
    for cfg in cfgs:
        env = {**os.environ, "DQO_EMBED": str(cfg["embed"]), "DQO_HIDDEN": str(cfg["hidden"])}
        if cfg["aug"]:
            env["DQO_AUG"] = str(cfg["aug"])
        tag = f"{family}_{cfg['embed']}x{cfg['hidden']}" + (f"a{cfg['aug']}" if cfg["aug"] else "")
        jobs.append((tag, family, knobs(env, **TRAIN_KNOBS)))

    def best_acc(row: dict) -> float:
        calibrated = row.get("test_calibrated") or {}
        return max(row.get("test", {}).get("accuracy", 0.0), calibrated.get("accuracy", 0.0))

    results = []
    for cfg, (tag, _, _), rep in zip(cfgs, jobs, train_jobs(engine, ds, workload_dir, out_root, jobs)):
        row = {**cfg, "dir": str(out_root / tag)}
        if isinstance(rep, dict):
            m = rep["models"][family]
            row["test"] = m.get("test", {})
            row["test_calibrated"] = m.get("test_calibrated", {})
            row["fit_seconds"] = m.get("fit_seconds")
            print(f"{tag}: acc {best_acc(row):.3f}", flush=True)
        else:
            row["error"] = f"{type(rep).__name__}: {rep}"
        results.append(row)
    results.sort(key=best_acc, reverse=True)
    report = {"family": family, "configs": results, "generated_at": time.strftime("%Y-%m-%d %H:%M")}
    Path(out_json).parent.mkdir(parents=True, exist_ok=True)
    Path(out_json).write_text(json.dumps(report, indent=1))
    print(f"-> {out_json}")
    return report


# -- joint -----------------------------------------------------------------


@dataclass
class Scale:
    name: str
    corpus_dir: Path
    sf_dir: str
    repeat: int = 1
    # filled by the encode pass
    enc_train: list = field(default_factory=list)
    rt_train: list = field(default_factory=list)
    enc_test: list = field(default_factory=list)
    test_rows: list = field(default_factory=list)


def parse_spec(spec: str) -> Scale:
    parts = spec.split(":")
    if len(parts) < 3:
        raise SystemExit(f"bad SPEC {spec!r}: want name:corpus_dir:sf_dir[:repeat]")
    return Scale(parts[0], Path(parts[1]), parts[2], int(parts[3]) if len(parts) > 3 else 1)


def joint(spark, out: Path, scales: list[Scale]) -> dict:
    """One checkpoint per selected family over all ``scales``, written
    with ``report.json`` into ``out``; returns the report."""
    selected = sorted({f.strip() for f in os.environ.get("DQO_FAMILIES", "gru").split(",")} & set(FAMILIES))
    kinds = {FAMILIES[f].ENCODING for f in selected}
    if len(kinds) > 1:
        raise SystemExit("train plan and tree families in separate runs (one encoding per run)")
    kind = "tree" if "tree" in kinds else "plan"
    k = knobs(os.environ, **{**TRAIN_KNOBS, "EMBED": "64", "HIDDEN": "64"})
    out.mkdir(parents=True, exist_ok=True)

    width = None
    for sc in scales:
        t0 = time.time()
        cache = str(sc.corpus_dir / "enc_cache.pkl")
        engine = open_engine(spark, sc.sf_dir, sc.corpus_dir / "schema.json", cache)
        if width is None:
            width = engine.encoder.width
        elif width != engine.encoder.width:
            raise SystemExit(f"encoder width mismatch at {sc.name}: {engine.encoder.width} != {width}")
        train = QueriesDataset.load(str(sc.corpus_dir / "workload.csv"))
        test_p = sc.corpus_dir / "test.csv"
        test = QueriesDataset.load(str(test_p)) if test_p.exists() else QueriesDataset()
        leak_guard(train.rows, test)
        rows = [(sql, rt) for sql, rt, _ in train.rows]
        if k["aug"] > 1:
            rows += augment(engine, rows, k["aug"])
        sc.enc_train = engine.encode(kind, [sql for sql, _ in rows])
        sc.rt_train = _runtimes(rows)
        sc.enc_test = engine.encode(kind, [sql for sql, _, _ in test.rows])
        sc.test_rows = list(test.rows)
        engine.save_encodings()
        print(
            f"[{sc.name}] encoded {len(rows)} train / {len(test.rows)} test "
            f"in {time.time() - t0:.0f}s (cache {engine.encode_cache_info()})",
            flush=True,
        )

    X = [e for sc in scales for _ in range(sc.repeat) for e in sc.enc_train]
    y = [r for sc in scales for _ in range(sc.repeat) for r in sc.rt_train]
    print(f"joint train set: {len(X)} rows from {[f'{s.name}x{s.repeat}' for s in scales]}")
    report: dict = {
        "scales": {
            s.name: {"train_rows": len(s.rt_train), "repeat": s.repeat, "test_rows": len(s.test_rows)}
            for s in scales
        },
        "epochs": k["epochs"],
        "embed": k["embed"],
        "hidden": k["hidden"],
        "aug": k["aug"],
        "init": os.environ.get("DQO_INIT"),
        "models": {},
    }
    # DQO_INIT: joint training refines a converged single-scale model
    # instead of rediscovering everything
    init = os.environ.get("DQO_INIT")
    models = [
        FAMILIES[fam].load(init)
        if init
        else FAMILIES[fam](in_dim=width, embed_dim=k["embed"], hidden=k["hidden"], seed=0)
        for fam in selected
    ]
    fit_kwargs = {"epochs": k["epochs"], "lr": k["lr"], "batch_size": k["batch"]}
    results = run_fits([(m, "joint", fit_kwargs) for m in models], {"joint": (X, y)})
    for fam, result in zip(selected, results):
        if isinstance(result, Exception):
            raise result
        model, fit_s = result
        res: dict = {"fit_seconds": round(fit_s, 1)}
        for sc in scales:
            res[f"test_{sc.name}"] = score(model, sc.enc_test, _runtimes(sc.test_rows))
        res["test_combined"] = score(
            model,
            [e for sc in scales for e in sc.enc_test],
            [r for sc in scales for r in _runtimes(sc.test_rows)],
        )
        model.save(str(out / f"model_{fam}.json"))
        report["models"][fam] = res
        accs = {m: round(v.get("accuracy", math.nan), 3) if isinstance(v, dict) else v for m, v in res.items()}
        print(fam, accs, flush=True)
    (out / "report.json").write_text(json.dumps(report, indent=1))
    print(f"report -> {out / 'report.json'}")
    return report


# -- finetune --------------------------------------------------------------


def finetune(
    spark, clean_csv: str, model_json: str, family: str, out: Path, sf_dir: str, test_csv: str, calib_csv: str
) -> dict:
    """Continue ``model_json`` on the clean rows; writes and returns the
    before/after report."""
    k = knobs(os.environ, EPOCHS="40", BATCH="32", LR="1e-3")
    out.mkdir(parents=True, exist_ok=True)
    engine = open_engine(spark, sf_dir, Path(clean_csv).parent / "schema.json", env_cache())
    model = FAMILIES[family].load(model_json)
    train = QueriesDataset.load(clean_csv)
    test = QueriesDataset.load(test_csv)
    calib = QueriesDataset.load(calib_csv)
    leak_guard(train.rows, test, calib)
    pairs = [(sql, rt) for sql, rt, _ in train.rows]
    if k["aug"] > 1:
        pairs += augment(engine, pairs, k["aug"])

    t0 = time.time()
    tr = engine.encode(model.ENCODING, [sql for sql, _ in pairs])
    te = engine.encode(model.ENCODING, [sql for sql, _, _ in test.rows])
    ca = engine.encode(model.ENCODING, [sql for sql, _, _ in calib.rows])
    engine.save_encodings()
    print(f"encoding cache: {engine.encode_cache_info()}")
    print(f"encoded {len(tr)}+{len(te)}+{len(ca)} in {time.time() - t0:.0f}s")
    rt_test, rt_calib = _runtimes(test.rows), _runtimes(calib.rows)

    before = score(model, te, rt_test)
    before_cal = score(model, te, rt_test, affine=fit_affine(model, ca, rt_calib))
    [result] = run_fits([(model, "clean", {"epochs": k["epochs"], "lr": k["lr"], "batch_size": k["batch"]})],
                        {"clean": (tr, _runtimes(pairs))})
    if isinstance(result, Exception):
        raise result
    model, fit_s = result
    affine = fit_affine(model, ca, rt_calib)
    report = {
        "family": family,
        "pretrained": model_json,
        "clean_rows": len(train.rows),
        "aug": k["aug"],
        "epochs": k["epochs"],
        "lr": k["lr"],
        "before": before,
        "before_calibrated": before_cal,
        "after": score(model, te, rt_test),
        "after_calibrated": score(model, te, rt_test, affine=affine),
        "affine": [round(affine[0], 4), round(affine[1], 4)],
        "fit_seconds": round(fit_s, 1),
    }
    model.save(str(out / f"model_{family}_finetuned.json"))
    (out / f"finetune_{family}.json").write_text(json.dumps(report, indent=1))
    print(
        f"{family}: before {before['accuracy']:.3f} -> after {report['after']['accuracy']:.3f} "
        f"(calibrated {report['after_calibrated']['accuracy']:.3f})"
    )
    return report


# -- command line ----------------------------------------------------------


def _session(app: str):
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _main_train(argv: list[str]) -> None:
    if len(argv) >= 3 and not argv[1].isdigit():  # <workload_dir> <sf_dir> <out_root> [fams]
        workload_dir, sf_dir, out_root, n = Path(argv[0]), argv[1], Path(argv[2]), 0
        only = argv[3] if len(argv) > 3 else os.environ.get("DQO_FAMILIES")
    else:  # [sf_dir] [n_queries] [out_dir]
        sf_dir = argv[0] if argv else str(REPO.parent / "testdata" / "sf0.1")
        n = int(argv[1]) if len(argv) > 1 else 120
        workload_dir = out_root = Path(argv[2] if len(argv) > 2 else "/tmp/dqo_estimator")
        only = os.environ.get("DQO_FAMILIES")
    wanted = {f.strip() for f in only.split(",")} if only else set(CLASSES)
    if wanted - set(CLASSES):
        raise SystemExit(f"unknown families {sorted(wanted - set(CLASSES))} (have {list(CLASSES)})")
    families = [f for f in CLASSES if f in wanted]
    merged = train(_session("dqo-train-estimator"), workload_dir, sf_dir, out_root, families, n)
    if set(families) - set(merged["models"]):
        sys.exit(1)


def _main_sweep(argv: list[str]) -> None:
    def arg(i: int, default: str) -> str:
        return argv[i] if len(argv) > i else default

    cfgs = [parse_cfg(t) for t in arg(4, "32x32,64x64,96x96,64x128").split(",")]
    sweep(
        _session("dqo-sweep-capacity"),
        Path(arg(0, ".data/est_clean_full")),
        arg(1, ".data/sf1"),
        Path(arg(2, ".data/est_sweep")),
        arg(3, "gru"),
        cfgs,
        arg(5, "reports/estimator_capacity_sweep.json"),
    )


def _main_joint(argv: list[str]) -> None:
    if len(argv) < 2:
        raise SystemExit(__doc__)
    joint(_session("dqo-train-joint"), Path(argv[0]), [parse_spec(s) for s in argv[1:]])


def _main_finetune(argv: list[str]) -> None:
    if len(argv) < 4:
        raise SystemExit(__doc__)
    data = REPO / ".data"
    finetune(
        _session("dqo-finetune"),
        argv[0],
        argv[1],
        argv[2],
        Path(argv[3]),
        argv[4] if len(argv) > 4 else str(data / "sf1"),
        argv[5] if len(argv) > 5 else str(data / "est_split" / "test_clean.csv"),
        argv[6] if len(argv) > 6 else str(data / "est_split" / "calib_clean.csv"),
    )


COMMANDS = {"train": _main_train, "sweep": _main_sweep, "joint": _main_joint, "finetune": _main_finetune}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in COMMANDS:
        raise SystemExit(__doc__)
    COMMANDS[sys.argv[1]](sys.argv[2:])


if __name__ == "__main__":
    main()
