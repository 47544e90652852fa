"""Probe-gate semantics of the scaling campaign (scripts/scaling_bench.py):
the clean-sample definition is the round-4 north-rule measurement contract,
so pin it — a sample counts ONLY when the leg is bracketed by healthy
ambient probes (pre-probe AND a settled closing probe), and legacy rows
(no timeline recorded / older format / errored) never count. Calibration
facts the semantics encode: (a) 1-proc in-run bursts read ~0 whenever ANY
memory-heavy job runs, even in healthy windows -> advisory only; (b) the
immediate post-leg probe is depressed ~20-30 s by worker teardown (JVM exit
+ /dev/shm rmtree) -> the next settled probe may close the bracket."""

import argparse
import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "scaling_bench",
    os.path.join(os.path.dirname(__file__), "..", "scripts", "scaling_bench.py"),
)
sb = importlib.util.module_from_spec(spec)
spec.loader.exec_module(sb)

ARGS = argparse.Namespace(min_probe_gbs=60.0, min_inrun_gbs=8.0, min_inrun_frac=0.8)


def _row(**kw):
    base = {
        "fmt": sb.FMT,
        "probe_gbs": 90.0,
        "probe_post_gbs": 85.0,
        "inrun_gbs": [0.0, 0.0, 0.1],  # typical during a leg, even when healthy
    }
    base.update(kw)
    return base


def test_clean_requires_bracketing_probes():
    assert sb.is_clean(_row(), ARGS)
    assert not sb.is_clean(_row(probe_gbs=59.9), ARGS)  # degraded at leg start
    assert not sb.is_clean(_row(probe_post_gbs=0.3), ARGS)  # window closed mid-leg
    r = _row()
    del r["probe_post_gbs"]
    assert not sb.is_clean(r, ARGS)  # no closing signal at all -> never clean


def test_settled_ambient_probe_can_close_the_bracket():
    # teardown-depressed immediate post, healthy probe 30 s later -> clean
    assert sb.is_clean(_row(probe_post_gbs=0.3, _ambient_after=88.0), ARGS)
    # both closing signals degraded -> excluded
    assert not sb.is_clean(_row(probe_post_gbs=0.3, _ambient_after=12.0), ARGS)


def test_annotate_ambient_uses_best_probe_near_leg_end():
    rows = [
        {"ts": "2026-08-17 10:33:03", "docs_per_sec": 1500.8, "probe_gbs": 105.9,
         "probe_post_gbs": 24.7, "fmt": sb.FMT, "inrun_gbs": [0.0]},
        {"ts": "2026-08-17 10:35:41", "probe_gbs": 85.4, "skipped_weather": True},
    ]
    sb._annotate_ambient(rows)
    assert rows[0]["_ambient_after"] == 85.4
    # a transient dip right after teardown must not hide a healthy settled
    # probe inside the window (a dip can only slow the sample, never
    # inflate it — persistent freezes can't read healthy minutes later)
    rows.insert(1, {"ts": "2026-08-17 10:34:30", "probe_gbs": 0.3, "skipped_weather": True})
    sb._annotate_ambient(rows)
    assert rows[0]["_ambient_after"] == 85.4
    # a probe far outside the settle window must NOT close the bracket
    del rows[1]
    rows[1]["ts"] = "2026-08-17 11:35:41"
    sb._annotate_ambient(rows)
    assert rows[0]["_ambient_after"] is None
    # the settle window is anchored at leg END (ts + build_s + query time):
    # a probe 4 min after ts still closes the bracket of a 3-min leg
    rows[0]["build_s"] = 180.0
    rows[0]["query_batch_s"] = 10.0
    rows[1]["ts"] = "2026-08-17 10:37:03"  # ts+240s; leg end ~ts+220s
    sb._annotate_ambient(rows)
    assert rows[0]["_ambient_after"] == 85.4


def test_inrun_timeline_is_advisory_not_gated():
    # all-zero bursts are the EXPECTED instrument reading while a leg runs;
    # they must not disqualify a bracketed sample...
    assert sb.is_clean(_row(inrun_gbs=[0.0] * 17), ARGS)
    # ...but a sample with no timeline at all predates the r4 contract
    assert not sb.is_clean(_row(inrun_gbs=None), ARGS)


def test_legacy_and_error_rows_never_clean():
    assert not sb.is_clean(_row(fmt=3), ARGS)  # pre-v4 engine samples
    r = _row()
    del r["fmt"]
    assert not sb.is_clean(r, ARGS)
    assert not sb.is_clean(_row(error="timeout"), ARGS)


def _leg(engine, nd, cores, wall, docs, page_kb=64):
    return _row(engine=engine, n_docs_req=nd, cores=cores, build_s=wall,
                docs=docs, docs_per_sec=round(docs / wall, 1), page_kb=page_kb)


def test_slope_cancels_serial_floor_exactly():
    # wall = c*docs/width + s with a HUGE floor s=100: the direct same-corpus
    # ratio is badly capped, but the paired-corpus slope recovers eff = 1.0
    c, s = 0.002, 100.0
    args = argparse.Namespace(min_probe_gbs=60.0, page_kb=64)
    rows = [
        _leg("sql", 100_000, 2, c * 95_000 / 2 + s, 95_000),
        _leg("sql", 200_000, 2, c * 190_000 / 2 + s, 190_000),
        _leg("sql", 100_000, 8, c * 95_000 / 8 + s, 95_000),
        _leg("sql", 200_000, 8, c * 190_000 / 8 + s, 190_000),
    ]
    md, summ = sb._slope_block(rows, args)
    assert abs(summ["sql_slope_2to8"] - 1.0) < 1e-6
    assert "PASS" in md
    # direct ratio on the same data is floor-capped far below 0.8
    thr_lo = 190_000 / (c * 95_000 + s)
    thr_hi = 190_000 / (c * 23_750 + s)
    assert thr_hi / thr_lo / 4 < 0.6


def test_slope_detects_genuine_compute_antiscaling():
    # per-doc cost DOUBLES at the high width -> slope efficiency 0.5, floor
    # cancellation must not hide real anti-scaling
    args = argparse.Namespace(min_probe_gbs=60.0, page_kb=64)
    rows = [
        _leg("arrow", 100_000, 2, 0.002 * 95_000 / 2 + 40, 95_000),
        _leg("arrow", 200_000, 2, 0.002 * 190_000 / 2 + 40, 190_000),
        _leg("arrow", 100_000, 8, 0.004 * 95_000 / 8 + 40, 95_000),
        _leg("arrow", 200_000, 8, 0.004 * 190_000 / 8 + 40, 190_000),
    ]
    _, summ = sb._slope_block(rows, args)
    assert abs(summ["arrow_slope_2to8"] - 0.5) < 1e-6


def test_slope_requires_two_corpora_per_width_and_clean_samples():
    args = argparse.Namespace(min_probe_gbs=60.0, page_kb=64)
    one_corpus = [
        _leg("sql", 200_000, 2, 233.0, 190_000),
        _leg("sql", 200_000, 8, 91.0, 190_000),
    ]
    md, summ = sb._slope_block(one_corpus, args)
    assert summ == {} and "not yet measurable" in md
    # an unclean second corpus point must not unlock the slope
    dirty = _leg("sql", 100_000, 2, 138.0, 95_000)
    dirty["probe_post_gbs"] = 0.3
    md, summ = sb._slope_block(one_corpus + [dirty], args)
    assert summ == {}


def test_slope_verdict_unresolved_when_best_and_median_disagree():
    # one lucky 8-core sample makes the best-of-clean slope PASS while the
    # median of that cell's samples FAILs: the report must not pick a side
    c, s = 0.002, 100.0
    args = argparse.Namespace(min_probe_gbs=60.0, page_kb=64)
    lucky = c * 190_000 / 8 + s
    rows = [
        _leg("sql", 100_000, 2, c * 95_000 / 2 + s, 95_000),
        _leg("sql", 200_000, 2, c * 190_000 / 2 + s, 190_000),
        _leg("sql", 100_000, 8, c * 95_000 / 8 + s, 95_000),
        _leg("sql", 200_000, 8, lucky, 190_000),
        _leg("sql", 200_000, 8, lucky + 20.0, 190_000),
        _leg("sql", 200_000, 8, lucky + 20.0, 190_000),
    ]
    md, summ = sb._slope_block(rows, args)
    assert abs(summ["sql_slope_2to8"] - 1.0) < 1e-6
    assert summ["sql_slope_med_2to8"] < 0.8
    assert f"UNRESOLVED: best-of-clean 1.000 vs median-of-clean {summ['sql_slope_med_2to8']:.3f}" in md
    assert "PASS" not in md and "FAIL" not in md
    assert "interference only ever slows" not in md
