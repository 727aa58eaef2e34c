"""Learned-cost join-order hints — SURVEY §7(b), the one place a
custom optimizer extension is clearly warranted on top of Catalyst.

The reference's estimator exists to PREDICT runtimes; the natural
closing of the loop is to let those predictions pick the plan. Without
CBO statistics Catalyst largely preserves the written order of inner
joins (``ReorderJoin`` only rotates joinable pairs into a left-deep
chain in encounter order), so re-emitting a ``Query`` with a different
FROM-clause order IS a join-order hint — no engine patch required, and
the estimator scores each candidate from the encoded plan Catalyst
actually produces for it (``engine.estimate``), so what is compared is
exactly what would run.

At 100 TB this is the difference between starting the join chain from
the 10 B-row fact table or from the 100-row filtered dimension; the
candidate set stays tiny (≤ ``limit`` emissions), scoring is pure
driver-side inference, and the chosen SQL runs unmodified through the
normal path. Each candidate costs one Spark plan round-trip (about
31 ms at sf0.01: ``spark.sql`` 10 ms, ``optimizedPlan()`` 11 ms,
``toJSON()`` 5 ms, parse and encode 3 ms) and one model forward.
``toJSON()`` took 48 ms before the py4j sockets got TCP_NODELAY (see
``session``), because plan JSON is larger than py4j's 8 KB writer
buffer. ``engine.estimate_many`` runs the round-trips concurrently,
and the canonical candidate is the text the hint gate already
estimated, so its encoding comes from the engine's memo.
"""

from __future__ import annotations

import itertools
import math
import random

from deep_query_optimization_spark.generator.augment import _emit
from deep_query_optimization_spark.relational.query import Query
from deep_query_optimization_spark.stats import (
    NumericStats,
    like_selectivity,
    selectivity,
)


def log2_bucket(est_s: float) -> int:
    """Clamped log2 runtime bucket (2^-3 .. 2^8 s) — THE bucket formula
    the hint gate keys margins on. Exported so every consumer
    (engine.estimate_bucket, tools/hint_report.py's abstain
    bookkeeping) shares one definition: a clamp or rounding change here
    must not silently desynchronize the report from the gate."""
    return int(min(8, max(-3, round(math.log2(max(est_s, 1e-3))))))


def order_variants(query: Query, limit: int = 6, seed: int = 0) -> list[str]:
    """Up to ``limit`` distinct emissions of ``query`` differing only
    in FROM-clause (= initial join) order; the canonical emission is
    always first. Predicates stay in canonical order and operands are
    never flipped, so the ONLY degree of freedom is join order."""
    aliases = query._aliases()
    rels = sorted(query.relations)
    n_preds = len(query.joins) + len(query.conditions)
    orders = list(itertools.permutations(rels))
    if len(orders) > limit:
        rng = random.Random(seed)
        orders = [orders[0]] + rng.sample(orders[1:], limit - 1)
    out: list[str] = []
    seen: set[str] = set()
    for order in orders:
        sql = _emit(query, list(order), list(range(n_preds)), 0, aliases)
        if sql not in seen:
            seen.add(sql)
            out.append(sql)
    return out


def reorder_by_estimate(
    engine,
    query: Query,
    limit: int = 6,
    seed: int = 0,
    margin: float = 1.0,
    margin_by_bucket: dict[int, float] | None = None,
    min_gain_s: float = 0.0,
    abstain_uncalibrated: bool = True,
) -> tuple[str, list[tuple[float, str]]]:
    """Pick the cheapest-estimated join order for ``query``.

    Returns (chosen_sql, [(estimate_s, sql), ...] for every candidate —
    candidates in emission order, chosen = argmin estimate; ties keep
    the earlier (canonical) emission so the hint never churns plans
    without a predicted win. The candidates are scored by one
    ``engine.estimate_many`` call.

    ``margin`` is the confidence gate: override Catalyst's default
    order only when the best candidate's estimate is at most
    ``margin * estimate(default)``. At 1.0 every predicted win is
    taken; measured end-to-end (reports/learned_hints_sf1.json) the
    estimator's small predicted deltas on sub-second queries are noise,
    so production callers should demand a real predicted gap (~0.6) —
    the same reasoning as Spark's own broadcast threshold: act only
    when the signal clears the cost of being wrong.

    ``margin_by_bucket`` (from ``margins_from_calibration``) replaces
    the flat margin with one keyed on the default plan's predicted
    log2 bucket — the calibration report shows reliability differs by
    bucket, so override authority should too. With
    ``abstain_uncalibrated`` (default on), a prediction landing in a
    bucket ABSENT from the table — for either the default or the best
    candidate — keeps the canonical order outright instead of falling
    back to the flat margin: a gate calibrated on buckets the model
    has never seen is a flat margin in disguise, and uncalibrated
    buckets are exactly where the model's blind spots live.

    ``min_gain_s`` is an absolute expected-gain floor on top of the
    ratio margin: the measured hint suite shows every regression
    concentrated in sub-second queries, where the predicted delta
    (tens of ms) is far below both the estimator's MAE and the fixed
    per-query planning/scheduling overhead — a 2x ratio win on a 60 ms
    estimate is not a signal. Requiring
    ``estimate(default) - estimate(best) >= min_gain_s`` makes the
    override authority scale with the stakes: cheap queries keep
    Catalyst's order, expensive ones (where a wrong join order costs
    minutes at 100 TB) remain eligible.

    Measured regimes (round 8): on a sub-second suite (sf1,
    reports/learned_hints_sf1.json) the feature is a wash-to-negative
    even gated — predicted deltas sit inside estimator noise; the
    gates above are what keep it from doing harm there. On slow
    multi-join queries (sf10, 22-39 s defaults,
    reports/learned_hints_sf10_slow.json) it is decisively positive:
    suite 227 s -> 75 s (3.0x), 8/8 reordered, six speedups of 10-43x,
    one 0.75x regression; the random sf10 suite
    (reports/learned_hints_sf10.json) is also net positive (8.7 ->
    8.0 s, one >10 % regression). Deploy with the gates on: min_gain_s
    naturally disables overrides exactly in the regime where they
    lose."""
    variants = order_variants(query, limit, seed)
    scored = list(zip(engine.estimate_many(variants), variants))
    best = min(range(len(scored)), key=lambda i: scored[i][0])
    if margin_by_bucket is not None:
        b_default, b_best = log2_bucket(scored[0][0]), log2_bucket(scored[best][0])
        if abstain_uncalibrated and (b_default not in margin_by_bucket or b_best not in margin_by_bucket):
            # ABSTAIN: one of the candidates is predicted into a bucket
            # the calibration source has never measured. A margin
            # calibrated on buckets the model has seen says nothing
            # there — falling back to the flat margin would grant
            # override authority exactly where the model's known
            # failure mode lives (round 8: the sf1 model predicts
            # ~0.6 s for 30 s queries in its starved buckets, and the
            # sf10 slow suite's one 0.75x regression came from a
            # default whose predicted bucket had no calibration row).
            # Keep Catalyst's canonical order.
            return scored[0][1], scored
        margin = margin_by_bucket.get(b_default, margin)
    if scored[best][0] > margin * scored[0][0] or scored[0][0] - scored[best][0] < min_gain_s:
        best = 0
    return scored[best][1], scored


def margins_from_calibration(calib: dict, base: float = 0.6) -> dict[int, float]:
    """Per-bucket override margins from a calibration report
    (tools/calibration_report.py output).

    The global margin treats every prediction as equally trustworthy;
    the calibration report says they are not (measured 0.80 at bucket
    -3 vs 0.20 at +1 on the sf1 clean set). Scale the base margin by
    the measured per-bucket reliability: where the estimator is usually
    right, a modest predicted win suffices; where it is usually wrong,
    demand a landslide. Buckets with n < 5 fall back to ``base`` —
    three samples of luck must not buy override authority.

    ``reorder_by_estimate`` looks margins up by the default plan's
    PREDICTED bucket (the only bucket that exists pre-execution), so
    the reliability used here must be accuracy-given-predicted-bucket
    (precision) — ``per_bucket_predicted`` in current reports. Old
    reports carry only the actual-bucket (recall) table; fall back to
    it with the caveat that a skewed confusion matrix can then loosen
    margins exactly where the model systematically mispredicts."""
    table = calib.get("per_bucket_predicted") or calib.get("per_bucket", {})
    out: dict[int, float] = {}
    for b, stats in table.items():
        n = stats.get("n", 0)
        if n >= 5:
            acc = float(stats.get("bucket_accuracy", 0.0))
            out[int(b)] = max(0.1, min(0.9, base * (0.5 + acc)))
    return out


# ---------------------------------------------------------------------------
# broadcast hints — the second high-leverage Catalyst decision
# ---------------------------------------------------------------------------
#
# Catalyst broadcasts a join side when its RAW file size is under
# spark.sql.autoBroadcastJoinThreshold (10 MB default). Without CBO
# column statistics it cannot see that a selective filter shrinks a
# 100 GB table to 2 MB of surviving rows — the exact case the §2.4
# statistics layer measures (per-column histograms + selectivity).
# ``broadcast_by_stats`` closes that gap: estimate each relation's
# POST-FILTER size from the snapshot stats and emit
# ``/*+ BROADCAST(alias) */`` for joined relations whose estimated
# surviving bytes clear the threshold Catalyst's raw-size check missed.
#
# Deliberately NOT scored by the runtime estimator: the cost models
# encode the OPTIMIZED LOGICAL plan (engine.encode_sql), and a physical
# broadcast hint leaves that encoding bit-identical — the model cannot
# tell the candidates apart. The decision signal here is the learned
# cardinality model (histogram selectivities, the reference's
# ``gerelt/v20/encoder.py:166-197`` machinery), which is exactly the
# statistic the decision depends on; reports/broadcast_hints_sf1.json
# measures the end-to-end effect.

SPARK_AUTO_BROADCAST_BYTES = 10 * 1024 * 1024


def condition_selectivity(db, cond) -> float:
    """Estimated fraction of rows surviving ``cond`` from snapshot
    stats; 0.5 when the stats can't say (the encoder's own prior)."""
    try:
        col = db[cond.column.table.name][cond.column.column]
    except KeyError:
        return 0.5
    st = col.stats
    if st is None:
        return 0.5
    op = str(cond.op).upper()
    if op == "IS NULL":
        return max(1e-6, st.nulls_fraction)
    if op == "IS NOT NULL":
        return max(1e-6, 1.0 - st.nulls_fraction)
    if op in ("LIKE", "NOT LIKE"):
        ss = st.values if st.values is not None and not isinstance(st.values, NumericStats) else None
        avg_len = float(ss.chars.mean) if ss and ss.chars.mean else 20.0
        sel = like_selectivity(str(cond.value), avg_len)
        return sel if op == "LIKE" else 1.0 - sel
    if op == "IN" and isinstance(cond.value, (list, tuple, set)):
        if st.distinct:
            return min(1.0, len(cond.value) / max(st.distinct, 1))
        return 0.5
    if op == "BETWEEN" and isinstance(cond.value, (list, tuple)) and len(cond.value) == 2:
        lo, hi = cond.value
        try:
            return max(
                1e-6, selectivity(st, ">=", float(lo)) + selectivity(st, "<=", float(hi)) - 1.0
            )
        except (TypeError, ValueError):
            return 0.5
    try:
        return selectivity(st, cond.op, float(cond.value))  # type: ignore[arg-type]
    except (TypeError, ValueError):
        return 0.5


def estimate_filtered_bytes(db, query: Query, rel) -> tuple[float, float]:
    """(raw_bytes, estimated post-filter bytes) for one relation of
    ``query``, multiplying per-condition selectivities (independence
    assumption — the same one every textbook optimizer starts from)."""
    table = db[rel.name]
    raw = float(table.stats.bytes) if table.stats else 0.0
    sel = 1.0
    for cond in query.conditions:
        if cond.column.table == rel:
            sel *= condition_selectivity(db, cond)
    return raw, raw * sel


def broadcast_by_stats(
    db,
    query: Query,
    threshold_bytes: int = 32 * 1024 * 1024,
    margin: float = 0.5,
    auto_bytes: int = SPARK_AUTO_BROADCAST_BYTES,
    min_probe_bytes: int = 0,
) -> tuple[str, list[dict]]:
    """Emit ``query`` with ``/*+ BROADCAST(alias) */`` hints for joined
    relations whose estimated post-filter size fits an executor's
    broadcast budget.

    Returns (sql, decisions) where decisions records per-relation
    raw/estimated bytes and the verdict — the report tool measures the
    hinted emission against the default.

    Hinted only when BOTH hold:
    - estimated bytes <= margin * threshold_bytes (the margin absorbs
      the independence assumption's optimism — demand the estimate
      clear the bar with room);
    - raw bytes > SPARK_AUTO_BROADCAST_BYTES (if the raw file is
      already under Catalyst's own threshold the hint is a no-op);
    and never for the largest relation of the query (broadcasting the
    fact side is how you OOM 1000 executors at once).

    ``min_probe_bytes`` additionally requires the query's LARGEST
    relation — the probe side whose shuffle the broadcast would save —
    to exceed a floor before any hint fires. Broadcasting has a fixed
    build-and-ship cost; measured at sf1 (median-of-3,
    reports/broadcast_hints_sf1.json) a hint into a ~20 MB probe side
    pays that cost for a shuffle that was nearly free, the one real
    regression in the suite. The stakes gate mirrors
    ``reorder_by_estimate``'s ``min_gain_s``: act only where the saved
    work can exceed the cost of acting. 0 disables (unit-test scale)."""
    if len(query.relations) < 2 or not query.joins:
        return query.to_sql(), []
    joined = {t for j in query.joins for t in (j.left.table, j.right.table)}
    aliases = query._aliases()
    sized = {rel: estimate_filtered_bytes(db, query, rel) for rel in sorted(query.relations)}
    largest = max(sized, key=lambda r: sized[r][0])
    if sized[largest][0] < min_probe_bytes:
        return query.to_sql(), [
            {
                "table": rel.name,
                "alias": aliases[rel],
                "raw_bytes": int(sized[rel][0]),
                "est_bytes": int(sized[rel][1]),
                "hinted": False,
            }
            for rel in sorted(query.relations)
        ]
    decisions = []
    hinted: list[str] = []
    for rel in sorted(query.relations):
        raw, est = sized[rel]
        hint = (
            rel in joined
            and rel != largest
            and est <= margin * threshold_bytes
            and raw > auto_bytes
        )
        if hint:
            hinted.append(aliases[rel])
        decisions.append(
            {
                "table": rel.name,
                "alias": aliases[rel],
                "raw_bytes": int(raw),
                "est_bytes": int(est),
                "hinted": hint,
            }
        )
    sql = query.to_sql()
    if hinted:
        # Splice the hint right after the leading SELECT. Guard the
        # assumption loudly: if Query.to_sql ever grows a CTE/prefix,
        # a silent replace() would drop or misplace the hint.
        if not sql.startswith("SELECT "):
            raise ValueError(f"cannot splice broadcast hint, emission does not start with SELECT: {sql[:60]!r}")
        sql = f"SELECT /*+ BROADCAST({', '.join(hinted)}) */ " + sql[len("SELECT ") :]
    return sql, decisions
