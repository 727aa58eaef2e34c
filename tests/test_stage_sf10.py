"""tools/stage_sf10.py pins: atomic sf10 staging + calib-share discount."""

from __future__ import annotations

from tools.stage_sf10 import discount_by_calib_share, merge_disjoint_margins


def test_discount_by_calib_share_scales_selection_biased_buckets():
    """Bucket accuracies measured on the calib+test union are scaled by
    (0.5 + 0.5 * calib_row_share): test.csv rows also selected the
    staged checkpoint, so their face-value accuracy is optimistic
    (round-9 advice, medium). Pure-calib buckets keep full value,
    pure-selection buckets count at half, and the raw value + share
    stay recorded for audit."""
    union = {
        "family": "gru",
        "n": 30,
        "per_bucket_predicted": {
            "3": {"n": 10, "bucket_accuracy": 0.8, "mean_pred_log2": 3.1},
            "5": {"n": 10, "bucket_accuracy": 0.6, "mean_pred_log2": 5.0},
            "6": {"n": 10, "bucket_accuracy": 0.4, "mean_pred_log2": 6.2},
        },
        "per_bucket": {"3": {"n": 10, "bucket_accuracy": 0.8, "mean_pred_log2": 3.1}},
    }
    calib_only = {
        "per_bucket_predicted": {
            "3": {"n": 10, "bucket_accuracy": 0.8},  # all rows from the carve
            "5": {"n": 5, "bucket_accuracy": 0.6},  # half carve, half selection
            # bucket 6 absent: measured purely on selection rows
        },
        "per_bucket": {},
    }
    out = discount_by_calib_share(union, calib_only)
    t = out["per_bucket_predicted"]
    assert t["3"]["bucket_accuracy"] == 0.8  # share 1.0 -> face value
    assert t["5"]["bucket_accuracy"] == round(0.6 * 0.75, 3)  # share 0.5
    assert t["6"]["bucket_accuracy"] == round(0.4 * 0.5, 3)  # share 0.0
    for b in ("3", "5", "6"):
        assert "bucket_accuracy_undiscounted" in t[b]
        assert "calib_row_share" in t[b]
    assert "discount" in out
    # metrics outside the bucket tables pass through untouched
    assert out["n"] == 30 and out["family"] == "gru"

    # no calib carve at all: every bucket is selection-only -> half
    out2 = discount_by_calib_share(union, None)
    assert out2["per_bucket_predicted"]["3"]["bucket_accuracy"] == 0.4


def test_merge_disjoint_margins_prefers_calib_only_where_thick():
    """Round-11 verdict ask #2: margins must be fit on rows the winner
    never saw during selection wherever the disjoint calib carve can
    afford it (n >= 5, the same floor margins_from_calibration uses);
    thin buckets keep the discounted-union entry so the gate does not
    fall back to all-abstain. The returned flag is True only when every
    bucket that can grant override authority is calib-only sourced."""
    union_discounted = {
        "per_bucket_predicted": {
            "5": {"n": 12, "bucket_accuracy": 0.45, "calib_row_share": 0.5},
            "6": {"n": 9, "bucket_accuracy": 0.3, "calib_row_share": 0.2},
        },
        "per_bucket": {
            "5": {"n": 12, "bucket_accuracy": 0.4, "calib_row_share": 0.5},
        },
    }
    calib_only = {
        "per_bucket_predicted": {
            "5": {"n": 6, "bucket_accuracy": 0.67},  # thick: disjoint entry wins
            "6": {"n": 2, "bucket_accuracy": 1.0},  # thin: union fallback
        },
        "per_bucket": {"5": {"n": 6, "bucket_accuracy": 0.5}},
    }
    merged, disjoint = merge_disjoint_margins(union_discounted, calib_only)
    t = merged["per_bucket_predicted"]
    # bucket 5: the calib-only entry replaces the discounted union one
    assert t["5"]["n"] == 6 and t["5"]["bucket_accuracy"] == 0.67
    assert t["5"]["margin_fit_source"] == "calib_only_disjoint"
    # bucket 6: calib carve too thin -> discounted union kept, flagged
    assert t["6"]["n"] == 9 and t["6"]["bucket_accuracy"] == 0.3
    assert t["6"]["margin_fit_source"] == "union_discounted"
    # bucket 6 has n >= 5 post-merge, i.e. it CAN grant override
    # authority from non-disjoint rows -> the honest flag is False
    assert disjoint is False
    assert "margin_fit" in merged

    # once every acting bucket is calib-backed the flag flips true
    calib_only["per_bucket_predicted"]["6"]["n"] = 5
    _, disjoint2 = merge_disjoint_margins(union_discounted, calib_only)
    assert disjoint2 is True

    # no calib report at all: nothing is disjoint
    merged3, disjoint3 = merge_disjoint_margins(union_discounted, None)
    assert disjoint3 is False
    assert merged3["per_bucket_predicted"]["5"]["margin_fit_source"] == "union_discounted"
