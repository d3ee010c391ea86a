"""Gate on the committed scale-curve artifacts (round 11): the 100 TB
design claims are empirically curve-measured for the heaviest catalog
entries (SCALE.md "Measured scale curves"), and this test pins the
artifact's verdict — every floor-adjusted per-decade exponent at or
under the 1.2 investigation bar. The exponent is recomputed from each
entry's raw runs with the artifact writer's own function
(``scripts/scale_curves.high_exponent``), so the gate never trusts a
stored derived number. If a future round re-measures and commits a
super-linear entry, this fails until the entry is fixed or its
exception documented here, keeping the scale claim from silently
rotting. Deterministic: reads committed JSON, runs no Spark."""

from __future__ import annotations

import glob
import json
import os

from scripts.scale_curves import high_exponent, per_decade

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-decade exponent above which an entry is a scale risk: 1.0 is
# linear-in-data; headroom to 1.2 absorbs measurement noise on the
# floor-subtracted residual fit
EXPONENT_BAR = 1.2

# Measured, documented exceptions (SCALE.md "Third decade" section):
# prefix_filter_jaccard_join is EXACT set-similarity via prefix
# filtering, whose selectivity comes from feature RARITY — on the
# synthetic corpus's closed 30-word vocabulary the shingle space
# saturates, every shingle's document frequency grows linearly with
# corpus size, and prefix-bucket candidate volume grows quadratically
# (measured at scratch sf0.1→sf1: candidates 133 k → 18.9 M, ×142 for
# ×10 data, while the probabilistic MinHash-LSH path finds the SAME
# truth set with linear candidates, 257 → 2 565). That is intrinsic to
# any exact prefix-filter join on rarity-saturated data, not a plan
# defect; the engine's scale path for such corpora is the LSH twin
# (minhash_lsh_candidates, floor-adj 0.97 over the same span).
DOCUMENTED_SUPERLINEAR = {"prefix_filter_jaccard_join"}


def test_scale_curve_artifacts_stay_sublinear():
    paths = sorted(glob.glob(os.path.join(REPO, "SCALE_CURVES*.json")))
    assert paths, "scale-curve artifact missing (scripts/scale_curves.py output)"
    measured = 0
    offenders = []
    for path in paths:
        with open(path) as f:
            data = json.load(f)
        assert data.get("runs_per_point", 0) >= 3, f"{path}: not min-of-3"
        for name, rec in data["entries"].items():
            # at least a 10× span of at least 3 measured points (the
            # round-12 sf1 artifact adds non-decade scratch points;
            # the original artifacts carry exactly 0.001/0.01/0.1)
            sf_keys = sorted(float(k) for k in rec["sec_by_sf"])
            assert len(sf_keys) >= 3 and sf_keys[-1] / sf_keys[0] >= 10, (
                f"{name}: curve span too small ({sf_keys})"
            )
            assert all(
                len(runs) >= 3 for runs in rec["runs_by_sf"].values()
            ), f"{name}: fewer than 3 runs at some point"
            runs = rec["runs_by_sf"]
            assert rec["sec_by_sf"] == {sf: min(r) for sf, r in runs.items()}, (
                f"{name}: sec_by_sf is not min-of-runs_by_sf"
            )
            sfs = sorted(runs, key=float)
            raw_top = per_decade(
                min(runs[sfs[-2]]), min(runs[sfs[-1]]), float(sfs[-2]), float(sfs[-1])
            )
            assert raw_top == rec["exp_high_segment"], (
                f"{name}: recomputed top segment {raw_top} != stored {rec['exp_high_segment']}"
            )
            # the floor-adjusted exponent estimates the data-term
            # exponent; when the residual is inside the run noise,
            # the raw top segment (an underestimate, but the entry is
            # then fixed-cost-bound anyway) is the check
            exp = high_exponent(runs)
            measured += 1
            if exp > EXPONENT_BAR and name not in DOCUMENTED_SUPERLINEAR:
                offenders.append(f"{name}: exponent {exp} (from {path})")
    assert measured >= 13, f"artifact coverage shrank to {measured} entries"
    assert not offenders, (
        "super-linear scale curve(s) committed — fix the operator or document "
        "the exception in SCALE.md AND here:\n" + "\n".join(offenders)
    )


def test_sf1_regime_pin_provenance_is_recorded():
    """The three ER entries whose sf1 curves are measured inside the
    shuffle-join regime (SCALE.md: a broadcast→shuffle transition
    mid-span reads as a fake super-linear exponent) must carry their
    autoBroadcastJoinThreshold=-1 pin in the artifact's entry_confs —
    an unpinned follow-up merge once dropped the record silently
    (round 12), leaving SCALE.md claiming provenance the artifact no
    longer stated."""
    with open(os.path.join(REPO, "SCALE_CURVES_SF1.json")) as f:
        data = json.load(f)
    confs = data.get("entry_confs", {})
    for name in ("er_matched_pairs", "er_linkage_quality", "stream_er_admission"):
        assert confs.get(name) == ["spark.sql.autoBroadcastJoinThreshold=-1"], (
            f"{name}: regime-pin provenance missing from entry_confs ({confs.get(name)})"
        )
