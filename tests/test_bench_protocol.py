"""The bench protocol's pure decision logic — no SparkSession needed.

Round 9 needed two discarded recordings and a by-hand HEAD-vs-prior-commit
A/B to call 16 sub-0.5 s "+20-67%" moves load drift; round 10 automated the
call (``bench.py --ab``, on by default against the committed snapshot).
These tests pin the two decision rules so a future tweak to the thresholds
or the comparison direction is a deliberate, red-test-visible act:

- which queries get adjudicated (``_drifted_names``): slower than baseline
  by BOTH >20% and >50 ms; improvements and sub-noise moves never trigger;
- what the re-runs mean (``_ab_verdict``): the BEST interleaved HEAD re-run
  reaching within 20% of baseline proves the recorded number was
  environment (load-drift); anything else is a real regression.
"""

from __future__ import annotations

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location("bench", os.path.join(REPO, "bench.py"))
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_drifted_names_thresholds():
    base = {"a": 1.0, "b": 0.10, "c": 2.0, "d": 0.5}
    timings = {
        "a": 1.30,  # +30%, +0.30s -> drifted
        "b": 0.14,  # +40% but only +0.04s -> below the 50ms noise floor
        "c": 1.0,  # faster -> never adjudicated
        "d": 0.57,  # +14% -> under the 20% ratio
        "e": 99.0,  # not in baseline -> skipped
    }
    assert bench._drifted_names(timings, base) == ["a"]


def test_drifted_names_boundary_needs_both_conditions():
    # exactly 20% over / exactly 50ms over are NOT drift (strict >)
    assert bench._drifted_names({"a": 1.2}, {"a": 1.0}) == []
    assert bench._drifted_names({"a": 0.25}, {"a": 0.20}) == []  # +25% but =50ms
    # just past both -> drift
    assert bench._drifted_names({"a": 1.26}, {"a": 1.0}) == ["a"]


def test_ab_verdict():
    assert bench._ab_verdict(rerun_best=1.1, baseline_sec=1.0) == "load-drift"
    assert bench._ab_verdict(rerun_best=1.2, baseline_sec=1.0) == "load-drift"
    assert bench._ab_verdict(rerun_best=1.21, baseline_sec=1.0) == "regression"
    # the 50 ms noise floor applies to conviction exactly as to flagging
    # (review finding): a sub-floor residual on a small query is noise by
    # the protocol's own definition and must not stamp 'regression'
    assert bench._ab_verdict(rerun_best=0.245, baseline_sec=0.2) == "load-drift"
    assert bench._ab_verdict(rerun_best=0.251, baseline_sec=0.2) == "regression"


def test_adjudicate_warm_min_self_exoneration(tmp_path):
    """A query whose recorded MEDIAN drifted >20% but whose warm MIN is
    already within 20% of baseline is exonerated from the recording's own
    samples — no re-runs, evidence stamped (r10 run-3: billing_credits_pivot
    flipped past 20% on variance and the tail-biased re-runs convicted it
    falsely). With every flagged query self-exonerating, _adjudicate never
    touches Spark (dfs/queries/spark are unused)."""
    baseline = tmp_path / "base.json"
    baseline.write_text(json.dumps({"queries": {"q": 0.20, "other": 1.0}}))
    block = bench._adjudicate(
        str(baseline),
        timings={"q": 0.28, "other": 1.01},  # q: +40% median
        samples={"q": [0.28, 0.19, 0.31, 0.29, 0.28]},  # min 0.19 < 0.24
        queries=None,
        dfs=None,
        spark=None,
        sf_dir="unused",
    )
    v = block["queries"]["q"]
    assert v["verdict"] == "load-drift"
    assert v["evidence"] == "recording-warm-min"
    assert v["recording_warm_min"] == 0.19
    assert "reruns" not in v
    assert block["session_suspect"] is False
    assert "other" not in block["queries"]


def test_adjudicate_skips_cross_core_comparison(tmp_path, monkeypatch):
    """VERDICT r11 #3: the driver's 8-core scaling run must NOT adjudicate
    its timings against the 32-core snapshot — r11's c8 run stamped 9
    phantom "regressions" (8-core billing re-runs vs 32-core baselines)
    over the committed round-end sidecar. A cpus mismatch between the bench
    env and the baseline artifact skips adjudication entirely."""
    baseline = tmp_path / "base.json"
    baseline.write_text(json.dumps({"cpus": 32, "queries": {"q": 0.20}}))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    block = bench._adjudicate(
        str(baseline),
        timings={"q": 1.0},  # wildly "drifted" — but it's 8 cores vs 32
        samples={"q": [1.0]},
        queries=None,
        dfs=None,
        spark=None,
        sf_dir="unused",
    )
    assert block is None


def test_adjudicate_legacy_snapshot_assumed_32_core(tmp_path, monkeypatch):
    """Snapshots written before the cpus field existed were all 32-core
    recordings: a 32-core bench still adjudicates against them, a scaled
    run does not."""
    baseline = tmp_path / "base.json"
    baseline.write_text(json.dumps({"queries": {"q": 0.20}}))  # no cpus field
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert (
        bench._adjudicate(
            str(baseline), timings={"q": 1.0}, samples={"q": [1.0]},
            queries=None, dfs=None, spark=None, sf_dir="unused",
        )
        is None
    )
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    block = bench._adjudicate(
        str(baseline),
        timings={"q": 0.28},
        samples={"q": [0.28, 0.19]},  # warm-min self-exoneration path
        queries=None, dfs=None, spark=None, sf_dir="unused",
    )
    assert block is not None and block["cpus"] == 32


def test_load_stamp_carries_steal_ticks():
    """The steal stamp (r10): /proc/stat before/after tick pairs let any
    consumer compute the hypervisor-steal share over a run — the signal
    that explained run-5's selective 1.5-4x drift when loadavg was clean."""
    stamp = bench._load_stamp()
    assert "loadavg_1_5_15" in stamp
    if os.path.exists("/proc/stat"):  # linux
        assert stamp["cpu_steal_ticks"] >= 0
        assert stamp["cpu_total_ticks"] > 0


def test_steal_share_shared_definition():
    """One _steal_share definition serves bench and every probe lane
    (review finding: the 5-line tick arithmetic was copy-pasted three
    times and could silently diverge)."""
    b = {"cpu_steal_ticks": 100, "cpu_total_ticks": 10_000}
    a = {"cpu_steal_ticks": 150, "cpu_total_ticks": 11_000}
    assert bench._steal_share(b, a) == 0.05
    assert bench._steal_share({}, a) is None  # stamp failed -> no claim
    assert bench._steal_share(b, b) is None  # zero elapsed ticks


def test_session_suspect_breadth():
    """Broad drift (>=20% of compared, min 4) marks the whole session
    suspect — per-query regression verdicts from a hot session are
    unreliable because the re-runs execute in the same hot session."""
    assert not bench._session_suspect(3, 40)  # 3 is never suspect
    assert not bench._session_suspect(4, 40)  # 4/40 = 10% < 20%
    assert bench._session_suspect(8, 40)  # 20% of 40
    assert not bench._session_suspect(7, 40)
    assert bench._session_suspect(4, 10)  # small fleets: min-4 floor
    assert not bench._session_suspect(0, 40)


def test_committed_snapshot_parses_and_carries_gate_evidence():
    """The --ab default baseline must stay loadable and gate-clean: a
    contaminated or malformed snapshot would silently poison every future
    adjudication."""
    path = os.path.join(REPO, "bench_snapshot.json")
    with open(path) as fh:
        snap = json.load(fh)
    assert snap["queries"], "snapshot has no per-query timings"
    gate = snap.get("quiet_gate", {})
    assert not gate.get("disabled"), "committed snapshot was recorded gate-disabled"
    load1 = snap["load_before"]["loadavg_1_5_15"][0]
    assert load1 < gate.get("threshold", 0.5), (
        f"committed snapshot recorded at loadavg1={load1} — not gate-clean"
    )


def test_strict_artifact_green_and_full_registry():
    """The committed STRICT_*.json artifacts (VERDICT r9 #2; per round
    ``STRICT_r{N}``, per change ``STRICT_pr{N}``) must each record a
    full-registry 150/150 run — an artifact claiming less would quietly
    weaken the closed registry's below-the-fold safety net."""
    import glob

    paths = glob.glob(os.path.join(REPO, "STRICT_*.json"))
    assert paths, "no STRICT_*.json committed (round >= 10 must emit one)"
    for path in paths:
        with open(path) as fh:
            art = json.load(fh)
        assert art["checked"] == 150, f"{path}: checked {art['checked']} != 150"
        assert art["strict_ok"] == 150, f"{path}: {art['failures']}"
        assert len(art["queries"]) == 150


def test_bench_ab_flag_none_and_missing_file(tmp_path, monkeypatch):
    """`--ab none` and a nonexistent path both disable adjudication; the
    default is the committed snapshot (relative — resolved in the repo
    root, where the driver runs bench.py)."""
    monkeypatch.chdir(REPO)
    assert bench._ab_baseline(["--ab", "none"]) is None
    assert bench._ab_baseline(["--ab", "NONE"]) is None
    assert bench._ab_baseline(["--ab", str(tmp_path / "missing.json")]) is None
    assert bench._ab_baseline([]) == "bench_snapshot.json"
    other = tmp_path / "other.json"
    other.write_text("{}")
    assert bench._ab_baseline(["--ab", str(other)]) == str(other)
