"""Adaptive banding (round 4): catch-prob math, histogram selection,
and the distributed estimator on the fixture corpus."""

from __future__ import annotations

import pytest

from globalign_spark.ops import dedup
from globalign_spark.pipeline import blocking, normalize
from globalign_spark.pipeline.blocking import (
    BandingPlan,
    _select_banding,
    banding_catch_prob,
)
from globalign_spark.sources.fixtures import pages_df


def test_banding_catch_prob_known_values():
    assert banding_catch_prob(0.5, 2, 1) == 0.25
    assert banding_catch_prob(0.5, 2, 2) == pytest.approx(0.4375)
    assert banding_catch_prob(1.0, 3, 1) == 1.0
    assert banding_catch_prob(0.0, 3, 10) == 0.0
    # clamps out-of-range estimates (rounded bins can graze 1.0+eps)
    assert banding_catch_prob(1.2, 2, 4) == 1.0
    # monotone in bands
    assert banding_catch_prob(0.4, 3, 60) > banding_catch_prob(0.4, 3, 42)


def test_select_meets_target_min_bg():
    truth = {0.45: 100.0, 0.5: 50.0}
    bg = {0.15: 900.0, 0.2: 100.0}
    plan = _select_banding(truth, bg, 0.95, max_perm=126)
    assert plan.evidence["chosen_by"] == "target-met-min-bg"
    assert plan.evidence["predicted_completeness"] >= 0.95
    assert plan.evidence["predicted_bg_rate"] <= 0.4
    assert plan.num_perm <= 126
    # verify the prediction against direct math
    w = 100.0 / 150.0
    comp = w * banding_catch_prob(0.45, plan.rows_per_band, plan.num_bands) + (
        1 - w
    ) * banding_catch_prob(0.5, plan.rows_per_band, plan.num_bands)
    assert plan.evidence["predicted_completeness"] == pytest.approx(
        comp, abs=1e-3
    )


def test_select_prefers_cheaper_config_on_easy_corpus():
    # near-exact duplicates: a handful of bands suffices; the chooser must
    # not default to the widest scheme
    plan = _select_banding({0.9: 100.0}, {0.1: 1000.0}, 0.95, max_perm=252)
    assert plan.num_perm < 50


def test_select_best_effort_when_unreachable():
    # heavy mass at the floor + tight bg budget: target unreachable
    truth = {0.25: 1000.0}
    bg = {0.2: 1000.0}
    plan = _select_banding(truth, bg, 0.99, max_perm=60, bg_cap=0.15)
    assert plan.evidence["chosen_by"] == "best-effort-target-unreachable-in-width"
    assert plan.evidence["predicted_bg_rate"] <= 0.15
    assert plan.num_perm <= 60


def test_select_fallback_on_thin_truth():
    plan = _select_banding({0.5: 3.0}, {0.2: 100.0}, 0.95, max_perm=126)
    assert plan.evidence["chosen_by"] == "fallback-insufficient-truth-mass"
    assert (plan.rows_per_band, plan.num_bands) == (3, 42)


def test_select_fallback_clamps_to_narrow_budget():
    """ADVICE r4: with num_perm < 126 the unclamped (3, 42) default would
    slice bands past the signature end — every out-of-range band hashes the
    same empty slice, i.e. corpus-wide degenerate buckets."""
    plan = _select_banding({0.5: 3.0}, {0.2: 100.0}, 0.95, max_perm=64)
    assert plan.evidence["chosen_by"] == "fallback-insufficient-truth-mass"
    assert plan.num_perm <= 64
    assert (plan.rows_per_band, plan.num_bands) == (3, 21)
    # every other path honours the budget too
    met = _select_banding({0.45: 100.0}, {0.15: 900.0}, 0.95, max_perm=64)
    assert met.num_perm <= 64
    # no-affordable-config fallback (bg saturates every width) also clamps
    hard = _select_banding(
        {0.05: 100.0}, {0.9: 1000.0}, 0.999, max_perm=64, bg_cap=0.0001
    )
    assert hard.num_perm <= 64


def test_select_rejects_empty_budget():
    """A budget below one permutation is a typed error naming the remedy
    (it used to reach the fallback and trip a bare assert there)."""
    for max_perm in (0, -3):
        with pytest.raises(ValueError, match="raise num_perm"):
            _select_banding({0.45: 100.0}, {0.15: 900.0}, 0.95, max_perm=max_perm)


def test_select_widens_for_low_floor():
    easy = _select_banding({0.5: 100.0}, {0.15: 1000.0}, 0.95, max_perm=252)
    hard = _select_banding(
        {0.5: 50.0, 0.32: 50.0}, {0.15: 1000.0}, 0.95, max_perm=252
    )
    assert hard.num_bands > easy.num_bands  # data demands more sensitivity


def test_plan_as_dict_roundtrip():
    plan = BandingPlan(3, 42, chosen_by="x", foo=1)
    d = plan.as_dict()
    assert d["rows_per_band"] == 3 and d["num_bands"] == 42
    assert d["num_perm"] == 126 and d["foo"] == 1


@pytest.mark.slow
def test_choose_banding_on_fixture_corpus(spark):
    pages = pages_df(spark, 400)
    norm = normalize.normalize_pages(pages)
    sig = dedup.minhash_signatures(norm, "url", "norm_text", 5, 126)
    plan = blocking.choose_banding(
        sig, 126, norm_df=norm, target_completeness=0.9, probe_cap=500
    )
    d = plan.as_dict()
    # the fixture corpus's near-dups live at Jaccard ~0.35-0.9: a real
    # (non-fallback) plan must come back, inside the width budget
    assert d["chosen_by"].startswith(("target-met", "best-effort"))
    assert plan.num_perm <= 126
    assert d["truth_mass"] > 30
    assert 0 < d["predicted_completeness"] <= 1.0
    # The plan and all of its evidence are pinned: changing how the
    # estimator is planned or executed must not move any of them.
    assert d == {
        "rows_per_band": 3, "num_bands": 28, "num_perm": 84,
        "chosen_by": "target-met-min-bg",
        "predicted_completeness": 0.9004, "predicted_bg_rate": 0.0599,
        "truth_mass": 600.0, "bg_mass": 31936.0, "est_floor": 0.25,
        "target_completeness": 0.9, "bg_cap": 0.4, "max_perm": 126,
        "cap_survival": {2: 0.9792, 3: 1.0, 4: 1.0},
    }


def test_choose_banding_skips_documents_without_text(spark):
    """A NULL-text document (NULL signature) among the probes must not
    break the estimator: it has no bands and no Jaccard estimate."""
    norm = spark.createDataFrame(
        [("u1", "the quick brown fox jumps over the lazy dog"),
         ("u2", "the quick brown fox jumps over the lazy cat"),
         ("u3", None)],
        "url string, norm_text string",
    )
    sig = dedup.minhash_signatures(norm, "url", "norm_text", 5, 126)
    d = blocking.choose_banding(sig, 126, norm_df=norm).as_dict()
    assert d["chosen_by"] == "fallback-insufficient-truth-mass"
    assert d["bg_mass"] == 2.0
