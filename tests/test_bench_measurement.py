"""Measurement-integrity contracts of the bench harness (round 8).

Round 7's driver run fired ``budget_hot`` on three one-off load spikes
that the same run's own median-of-3 data disproved, and its regression
detector flagged two cross-MACHINE deltas of the same HEAD as code
regressions. These tests pin the fixes: the budget guard / over-ceiling
check key on a same-run median basis, sf1 median re-runs never resolve
an '@'-labelled experimental setup to the plain registry query, and
regression comparisons only happen between like machine fingerprints.
"""

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402


def test_median_basis_total_substitutes_same_run_medians():
    # round-7 driver shape: one spiked query whose median disproves it
    values = {
        "q_spiked": 24.68,
        "q_steady": 10.0,
        "_truncated_after": "nope",  # non-float entries ignored
    }
    medians = {"q_spiked": 7.0}
    assert bench._median_basis_total(values, medians) == 17.0
    # no medians → identical to the single-pass total
    assert bench._median_basis_total(values, {}) == 34.68


def test_sf1_median_labels_skip_non_production_at_labels():
    sf1 = {
        "rel_skew_stress@salted": 50.0,
        "rel_skew_stress@unsalted_aqe": 40.0,
        "dedup_prefix_join@production": 14.0,
        "text_lm_bigram": 24.0,
        "cheap": 0.5,
        "_error": "x",
    }
    labels = bench._sf1_median_labels(sf1, 3)
    # the @salted/@unsalted variants are experimental setups with no
    # registry builder — they must never enter the median re-run set
    assert labels == ["text_lm_bigram", "dedup_prefix_join@production",
                      "cheap"]


def test_fingerprint_match_band_and_missing_prev():
    now = {"cpus": 32, "calib_kops": 1000}
    assert bench._fingerprints_match({"cpus": 32, "calib_kops": 1000}, now)
    assert bench._fingerprints_match({"cpus": 32, "calib_kops": 800}, now)
    # outside the 1.3x calibration band → different effective machine
    assert not bench._fingerprints_match(
        {"cpus": 32, "calib_kops": 500}, now
    )
    assert not bench._fingerprints_match(
        {"cpus": 32, "calib_kops": 2000}, now
    )
    # cpu-count mismatch
    assert not bench._fingerprints_match(
        {"cpus": 16, "calib_kops": 1000}, now
    )
    # pre-round-8 artifact (no fingerprint) → mismatch, skip flags
    assert not bench._fingerprints_match(None, now)
    assert not bench._fingerprints_match({}, now)


def test_same_machine_prev_prefers_matching_fingerprint(tmp_path):
    """A driver run must skip the builder's committed BENCH_FULL (its
    fingerprint differs) and fall through to the newest BENCH_r0N
    driver capture whose summary carries a matching fingerprint."""
    import json

    me = {"cpus": 32, "calib_kops": 1000}
    builder = {"cpus": 32, "calib_kops": 2000}  # outside the 1.3x band
    (tmp_path / "BENCH_FULL.json").write_text(json.dumps({
        "sf": 0.1, "machine_fingerprint": builder,
        "queries": {"q": 5.0}, "medians": {"q": 5.0},
        "sf1": {"medians": {"q": 50.0}},
    }))
    # older capture without a fingerprint (pre-round-8) — never matches
    (tmp_path / "BENCH_r07.json").write_text(json.dumps({
        "parsed": {"sf": 0.1, "queries": {"q": 9.9}},
    }))
    # newest driver capture with MY fingerprint
    (tmp_path / "BENCH_r08.json").write_text(json.dumps({
        "parsed": {
            "sf": 0.1, "machine_fingerprint": {
                "cpus": 32, "calib_kops": 950
            },
            "queries": {"q": 7.0}, "medians": {"q": 7.0},
            "sf1_medians": {"q": 70.0},
        },
    }))
    q, m, sf1m, src = bench._same_machine_prev(str(tmp_path), 0.1, me)
    assert src == "BENCH_r08.json"
    assert q == {"q": 7.0} and m == {"q": 7.0} and sf1m == {"q": 70.0}
    # builder fingerprint → the committed full artifact wins
    q, m, sf1m, src = bench._same_machine_prev(
        str(tmp_path), 0.1, {"cpus": 32, "calib_kops": 1900}
    )
    assert src == "BENCH_FULL.json"
    assert sf1m == {"q": 50.0}
    # nothing matches → no basis, no flags
    assert bench._same_machine_prev(
        str(tmp_path), 0.1, {"cpus": 8, "calib_kops": 10}
    ) == ({}, {}, {}, None)
    # sf mismatch is never a basis
    assert bench._same_machine_prev(str(tmp_path), 1.0, me)[3] is None


def test_machine_fingerprint_shape():
    fp = bench._machine_fingerprint(8)
    assert fp["cpus"] == 8
    assert fp["calib_kops"] > 0
    # two immediate measurements on the same machine must match
    assert bench._fingerprints_match(fp, bench._machine_fingerprint(8))


def test_fingerprint_records_session_cpus(monkeypatch):
    """The fingerprint carries the session's local[N] (SPARK_GRAFT_CPUS,
    default 32), not the host core count."""
    host = os.cpu_count()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(host + 3))
    fp = bench._machine_fingerprint(bench._session_cpus())
    assert fp["cpus"] == host + 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert bench._session_cpus() == 32


def test_ceiling_breachers_forced_set():
    """Ceiling breachers are selected heaviest-first, capped, with the
    '@unsalted' A/B variants (ceiling-exempt deliberately-bad plans)
    excluded — the round-9 forced-adjudication set that runs even when
    the economy rule skips general median re-runs."""
    sf1 = {
        "q1": 25.0, "q2": 21.0, "q3": 20.5, "q4": 20.1, "q5": 19.0,
        "skew@unsalted_aqe": 60.0, "skew@salted": 44.0, "_err": "x",
        "pj@production": 30.0,
    }
    got = bench._ceiling_breachers(sf1, 20.0)
    assert got == ["pj@production", "q1", "q2"]  # cap 3, heaviest first
    assert bench._ceiling_breachers({"a": 5.0}, 20.0) == []


def test_adjudication_medians_prior_run_fallback():
    """Hot-run shape (round-8 driver): same-run medians empty → the
    heavy labels adjudicate from the fingerprint-gated prior run's
    medians; same-run medians always win where present; labels outside
    the heavy set never pull prior numbers."""
    sf1 = {"heavy1": 22.0, "heavy2": 15.0, "cheap": 1.0}
    prior = {"heavy1": 11.0, "heavy2": 14.0, "cheap": 0.9, "gone": 5.0}
    # degenerate same-run medians (economy rule fired)
    adjud, used = bench._adjudication_medians(sf1, {}, prior, 2)
    assert adjud == {"heavy1": 11.0, "heavy2": 14.0}
    assert used == ["heavy1", "heavy2"]
    # budget total on the adjudicated basis: 11 + 14 + 1 (cheap stays
    # single-pass — it was never median-eligible)
    assert bench._median_basis_total(sf1, adjud) == 26.0
    # affordable run: same-run medians cover the heavy set → identity
    same = {"heavy1": 12.0, "heavy2": 13.0}
    adjud2, used2 = bench._adjudication_medians(sf1, same, prior, 2)
    assert adjud2 == same and used2 == []
    # no prior basis at all → plain same-run behaviour
    adjud3, used3 = bench._adjudication_medians(sf1, {}, {}, 2)
    assert adjud3 == {} and used3 == []


def test_same_machine_prev_numeric_round_order_and_closeness(tmp_path):
    """Round files order by PARSED round number (r100 after r99, not
    reverse-lexicographic), and among band-matching candidates the
    CLOSEST calibration wins — BENCH_FULL only breaks exact ties."""
    import json

    def rec(kops, q):
        return {
            "sf": 0.1,
            "machine_fingerprint": {"cpus": 32, "calib_kops": kops},
            "queries": {"q": q}, "medians": {"q": q},
            "sf1_medians": {"q": 10 * q},
        }

    # driver chain at ~1000 kops; builder's BENCH_FULL at 1200 kops —
    # both pass the 1.3x band for a 1000-kops run, closeness decides
    (tmp_path / "BENCH_FULL.json").write_text(json.dumps(rec(1200, 5.0)))
    (tmp_path / "BENCH_r09.json").write_text(
        json.dumps({"parsed": rec(1000, 7.0)})
    )
    (tmp_path / "BENCH_r100.json").write_text(
        json.dumps({"parsed": rec(1000, 8.0)})
    )
    me = {"cpus": 32, "calib_kops": 1000}
    q, m, sf1m, src = bench._same_machine_prev(str(tmp_path), 0.1, me)
    # closest fingerprint (the driver chain), newest round of it: r100
    # (reverse-lexicographic order would have picked r09 here)
    assert src == "BENCH_r100.json"
    assert q == {"q": 8.0} and sf1m == {"q": 80.0}
    # a 1200-kops run ties BENCH_FULL with nothing → BENCH_FULL wins
    src2 = bench._same_machine_prev(
        str(tmp_path), 0.1, {"cpus": 32, "calib_kops": 1200}
    )[3]
    assert src2 == "BENCH_FULL.json"
    # exact closeness tie (same recorded kops) → BENCH_FULL preferred
    (tmp_path / "BENCH_r101.json").write_text(
        json.dumps({"parsed": rec(1200, 9.0)})
    )
    src3 = bench._same_machine_prev(
        str(tmp_path), 0.1, {"cpus": 32, "calib_kops": 1200}
    )[3]
    assert src3 == "BENCH_FULL.json"
