"""Pins bench.py's machine-readable stdout contract (the driver parses
the LAST stdout line as the headline JSON record — r7/r8 verdict item:
a silent format drift would null the driver's `parsed` field and drop
the round's benchmark evidence without any visible failure)."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _fake_timings():
    return {q: 0.1 for q in bench.HEADLINE + bench.EXTENDED}


def test_headline_is_last_line_and_parses_standalone():
    lines = bench.summary_lines(_fake_timings(), "/root/testdata/sf0.1", 3)
    # r16: detail line + one headline_query_seconds line per headline
    # query + the compact headline summary LAST
    assert len(lines) == 2 + len(bench.HEADLINE)
    head = json.loads(lines[-1])  # the driver's tail-of-stdout read
    assert head["metric"] == "headline_suite_seconds"
    assert isinstance(head["value"], (int, float))
    assert head["unit"] == "sec"
    assert head["sf"] == 0.1
    assert head["n_queries"] == len(bench.HEADLINE)
    # r11 verdict item #2: the machine-factor probe rides in the same
    # JSON line as every bench run so drift-corrected ratios are
    # computable without same-box A/B archaeology
    assert "calib_seconds" in head
    # r12 verdict item #4: the drift correction is emitted mechanically
    # — value * (calib_ref / calib_seconds) — not computed in prose
    assert head["calib_ref"] == bench.CALIB_REF
    assert "value_calib_adjusted" in head
    # the headline must never outgrow a tail-read window: it carries no
    # per-query dict (that is the first line's job)
    assert "queries" not in head
    assert len(lines[-1]) < 600
    # r16 (VERDICT r15 item #1): every headline query gets a standalone
    # one-line record a tail parser can extract without parsing the
    # detail dict; each is short, self-describing, and precedes the
    # headline summary
    per_query = [json.loads(ln) for ln in lines[1:-1]]
    assert [p["query"] for p in per_query] == bench.HEADLINE
    for p in per_query:
        assert p["metric"] == "headline_query_seconds"
        assert isinstance(p["sec"], (int, float))
        assert p["sf"] == 0.1
    # r16 (VERDICT r15 item #7): the mid-headline calibration probe is
    # carried in the record (detectability of mid-run storms), and it
    # must NOT change the pinned bracket-mean adjustment
    assert "calib_seconds_mid" in head
    adj_with_mid = json.loads(bench.summary_lines(
        _fake_timings(), "/root/testdata/sf0.1", 3, calib=1.018,
        calib_end=0.509, calib_mid=99.0)[-1])
    assert abs(adj_with_mid["value_calib_adjusted"]
               - adj_with_mid["value"] * bench.CALIB_REF / 0.7635) < 5e-4


def test_calib_adjusted_value_formula():
    lines = bench.summary_lines(_fake_timings(), "/root/testdata/sf0.1",
                                3, calib=1.018, calib_end=0.509)
    head = json.loads(lines[-1])
    # r13 ADVICE: the adjustment divides by the MEAN of the start/end
    # bracket readings, so one transient probe reading cannot skew the
    # cross-round number (r13's record showed 44% within-run drift)
    assert abs(head["value_calib_adjusted"]
               - head["value"] * bench.CALIB_REF / 0.7635) < 5e-4
    # end probe missing (crash-truncated run) -> fall back to start alone
    start_only = json.loads(bench.summary_lines(
        _fake_timings(), "/root/testdata/sf0.1", 3, calib=1.018)[-1])
    assert abs(start_only["value_calib_adjusted"]
               - start_only["value"] * bench.CALIB_REF / 1.018) < 5e-4
    # no probe (calib=0, e.g. a unit test) -> adjusted is null, not bogus
    no_probe = json.loads(bench.summary_lines(
        _fake_timings(), "/root/testdata/sf0.1", 3)[-1])
    assert no_probe["value_calib_adjusted"] is None


def test_extended_pruning_modes(monkeypatch):
    """Default bench times the headline only; =all keeps the full-record
    path; summary_lines sums whatever subset actually ran."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_EXTENDED", raising=False)
    assert bench._extended_to_run() == []
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXTENDED", "none")
    assert bench._extended_to_run() == []
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXTENDED", "all")
    assert bench._extended_to_run() == bench.EXTENDED
    # r13 ADVICE: a typo must fail loudly, not silently prune
    monkeypatch.setenv("SPARK_GRAFT_BENCH_EXTENDED", "al")
    try:
        bench._extended_to_run()
    except ValueError as exc:
        assert "al" in str(exc)
    else:
        raise AssertionError("typo'd extended mode did not raise")
    # a run's summary sums only the extended entries that ran
    timings = {q: 0.1 for q in bench.HEADLINE}
    head = json.loads(bench.summary_lines(
        timings, "testdata/sf0.1", 3, calib=0.5,
        extended_mode="none")[-1])
    assert head["n_extended"] == 0
    assert head["extended_mode"] == "none"
    assert head["extended_total"] == 0
    head = json.loads(bench.summary_lines(
        _fake_timings(), "testdata/sf0.1", 3, calib=0.5,
        extended_mode="all")[-1])
    assert head["n_extended"] == len(bench.EXTENDED)
    assert head["extended_mode"] == "all"
    assert abs(head["extended_total"] - 0.1 * len(bench.EXTENDED)) < 1e-9


def test_detail_line_carries_every_query():
    lines = bench.summary_lines(_fake_timings(), "/root/testdata/sf0.01", 1)
    detail = json.loads(lines[0])
    assert detail["metric"] == "headline_suite_seconds_detail"
    assert set(detail["queries"]) == set(bench.HEADLINE + bench.EXTENDED)
    assert detail["sf"] == 0.01


def test_each_line_is_single_line_json():
    for line in bench.summary_lines(_fake_timings(), "/root/testdata/sf1", 3):
        assert "\n" not in line
        json.loads(line)  # must round-trip


def test_calibration_workload_pinned(spark):
    """The calib probe's workload is the unit cross-round comparisons
    divide by — pin its result set (exactly 1024 register rows over a
    32-way source) so a silent plan edit cannot re-base the metric."""
    assert bench._calib_df(spark).count() == 1024


def test_priority_window_hygiene():
    """The driver certifies exactly the first 50 of queries() — a typo'd
    or duplicated _PRIORITY name silently shrinks the round's
    re-certification window."""
    import __spark_entry__ as entry
    from amundsendatabuilder_spark.plans.oracle_suite import QUERIES
    pri = entry._PRIORITY
    assert len(pri) == 50, f"window is {len(pri)} slots, expected 50"
    assert len(set(pri)) == len(pri), "duplicate window entries"
    unknown = [q for q in pri if q not in QUERIES]
    assert not unknown, f"unregistered window entries: {unknown}"
    assert list(entry.queries())[:50] == pri
