"""bench.py stdout-line contract (VERDICT r11 item 1).

The round driver captures only a 2,000-char tail of bench.py's stdout;
round 11's line grew to ~4 KB (the full idle per-query series was
embedded) and arrived truncated, so BENCH_r11.json recorded
``parsed: null``. These tests pin the emission contract: the line must
stay under 1,800 chars even with worst-case numeric widths, and must
carry the fields the driver and BASELINE.md consumers rely on — live
total, live per-query maps, idle_value, idle_git_sha.

bench.build_payload/emit_line are pure and need no SparkSession. The
last tests run ``bench.main()`` and ``bench/scale_sweep.py`` in the
session fixture's session and pin their lines.
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _worst_case_payload():
    # Every continuity key (36 queries + stream_ingest_1m) and every
    # extended key at a pessimistic 5-digit-seconds width; idle scalars
    # present. This is strictly wider than any plausible sf0.1 run.
    results = {name: 99999.999 for name in bench.HEADLINE}
    results["stream_ingest_1m"] = 99999.999
    extended = {name: 99999.999 for name in bench.EXTENDED}
    # idle series present WITH per-query maps, so the contamination
    # summary fields (n_over_2x_idle / worst_vs_idle) are emitted at
    # their widest plausible size
    idle = {
        "value": 99999.999,
        "git_sha": "0123456789ab",
        "queries": {k: 0.001 for k in results},
        "queries_extended": {k: 0.001 for k in extended},
    }
    return bench.build_payload(
        round(sum(results.values()), 3),
        results,
        extended,
        "0.1",
        "4.1.2",
        idle,
    )


def test_line_fits_driver_tail_capture():
    line = bench.emit_line(_worst_case_payload())
    assert len(line) < 1800, (
        f"bench stdout line is {len(line)} chars; the driver tail capture "
        "is 2,000 — keep headroom (full idle series belongs in "
        "bench/idle-sf*.json, never on stdout)"
    )
    # and it must be a single line
    assert "\n" not in line


def test_line_round_trips_with_required_fields():
    payload = _worst_case_payload()
    parsed = json.loads(bench.emit_line(payload))
    for field in (
        "metric",
        "value",
        "unit",
        "queries",
        "queries_extended",
        "extended_total",
        "sf",
        "idle_value",
        "idle_git_sha",
    ):
        assert field in parsed, field
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    # continuity invariant: value == sum(queries.values())
    assert parsed["value"] == pytest.approx(sum(parsed["queries"].values()))
    # the full idle series must NOT be embedded (that is what overflowed)
    assert "idle" not in parsed
    assert isinstance(parsed["idle_value"], float)


def test_contamination_summary_fields():
    """VERDICT r13 item 4: a host stall must be visible from the emitted
    line alone — n_over_2x_idle counts queries running >2x their recorded
    idle seconds, worst_vs_idle names the worst offender."""
    parsed = json.loads(bench.emit_line(_worst_case_payload()))
    n_keys = len(parsed["queries"]) + len(parsed["queries_extended"])
    assert parsed["n_over_2x_idle"] == n_keys  # every key is 10^8x idle here
    name, ratio = parsed["worst_vs_idle"].rsplit(":", 1)
    assert name in parsed["queries"] or name in parsed["queries_extended"]
    assert float(ratio) > 2
    # absent when the idle recording carries no per-query series
    bare_idle = {"value": 1.0, "git_sha": "abc"}
    p2 = bench.build_payload(1.0, {"q001_parquet_scan": 1.0}, {}, "0.1",
                             "4.1.2", bare_idle)
    assert "n_over_2x_idle" not in p2 and "worst_vs_idle" not in p2


def test_zero_or_missing_idle_keys_are_excluded_and_named(capsys):
    """A key whose idle recording is 0.0, or that the recording lacks,
    has no live-vs-idle ratio: it is left out of n_over_2x_idle (no
    ZeroDivisionError) and named on stderr, never skipped silently."""
    live = {"q001_parquet_scan": 3.0, "q002": 1.0, "q003": 1.0}
    idle = {
        "value": 1.0,
        "git_sha": "abc",
        "queries": {"q001_parquet_scan": 1.0, "q002": 0.0},
    }
    payload = bench.build_payload(5.0, live, {}, "0.1", "4.1.2", idle)
    assert payload["n_over_2x_idle"] == 1
    assert payload["worst_vs_idle"] == "q001_parquet_scan:3.00"
    err = capsys.readouterr().err
    assert "q002" in err and "q003" in err
    assert "q001_parquet_scan" not in err


def test_idle_scalars_omitted_when_no_recording():
    payload = bench.build_payload(1.0, {"q001_parquet_scan": 1.0}, {}, "0.1", "4.1.2", None)
    parsed = json.loads(bench.emit_line(payload))
    assert "idle_value" not in parsed
    assert "idle" not in parsed


def test_recorded_idle_file_matches_emitted_scalars():
    """The checked-in idle recording must itself be consistent with what
    the emission path would surface from it."""
    idle_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench",
        "idle-sf0.1.json",
    )
    if not os.path.exists(idle_path):
        pytest.skip("no idle recording present")
    with open(idle_path) as f:
        idle = json.load(f)
    payload = bench.build_payload(30.0, {"q001_parquet_scan": 30.0}, {}, "0.1", "4.1.2", idle)
    assert payload["idle_value"] == idle["value"]
    assert payload["idle_git_sha"] == idle["git_sha"]
    # the recording keeps the full series for triage
    assert set(idle["queries"]) == set(bench.HEADLINE) | {"stream_ingest_1m"}


def test_box_fingerprint_keys():
    """VERDICT r12 item 7: the idle series must carry a box-condition
    fingerprint so cross-round drift is attributable from the recorded
    JSON alone. bench.main() stamps box_fingerprint() into
    bench/idle-sf{sf}.json under "box"; pin the keys here (and that
    scale_sweep shares the implementation rather than forking it)."""
    fp = bench.box_fingerprint()
    assert {"load1", "mem_free_mb", "page_cache_mb",
            "other_python_java_procs"} <= set(fp)
    assert all(v is not None for v in fp.values()), fp
    assert bench.box_fingerprint.__module__ == "scale_sweep"
    src_bench = open(os.path.join(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))), "bench.py")).read()
    assert "def box_fingerprint" not in src_bench
    # captured pre-session (box_fingerprint() before get_spark in main),
    # stamped into the idle write as "box"
    assert '"box": box,' in src_bench
    assert src_bench.index("box = box_fingerprint()") < src_bench.index(
        'get_spark(app_name="s4_bench"')


def test_scale_sweep_records_streams_only_for_entries_that_start_one(
    spark, tmp_path
):
    """One sweep gives the timings and the streaming-state record: a
    streaming entry gets a ``streams`` record with its state maxima and
    batches, a batch entry is timed and gets none."""
    import importlib.util

    from tests.conftest import SMOKE_SF_DIR, assert_no_leaks, session_snapshot

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench",
        "scale_sweep.py",
    )
    spec = importlib.util.spec_from_file_location("scale_sweep", path)
    sweep = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sweep)

    out = tmp_path / "sweep.json"
    before = session_snapshot(spark)
    sweep.main(
        [
            SMOKE_SF_DIR,
            "--only",
            "q095_streaming_dedup,q020_inner_join_tpch_q3",
            "--out",
            str(out),
        ],
        spark=spark,
    )
    assert_no_leaks(spark, "scale_sweep", before)
    line = json.loads(out.read_text())
    assert set(line["timings"]) == {
        "q095_streaming_dedup",
        "q020_inner_join_tpch_q3",
    }
    assert line["n"] == line["attempted"] == 2 and line["failed"] == []
    assert set(line["streams"]) == {"q095_streaming_dedup"}
    rec = line["streams"]["q095_streaming_dedup"]
    assert rec["state_ops"], rec
    assert rec["batches"] and all(b["stateOps"] for b in rec["batches"])


@pytest.mark.parametrize("raw", ["0", "-1", "two"])
def test_bench_runs_must_be_a_positive_integer(raw, monkeypatch):
    """S4_BENCH_RUNS=0 once skipped every run, so each key timed as inf
    and the line carried ``Infinity`` (not JSON); it is refused before a
    session starts, and the error names the variable."""
    monkeypatch.setenv("S4_BENCH_RUNS", raw)

    def no_session(**kw):
        raise AssertionError("session started before S4_BENCH_RUNS was checked")

    monkeypatch.setattr(bench, "get_spark", no_session)
    with pytest.raises(ValueError, match="S4_BENCH_RUNS"):
        bench.main()


def test_main_emits_one_line_or_names_failures(spark, monkeypatch, capsys):
    """bench.main() end to end at sf0.001 on one headline and one
    extended key: stdout is one JSON line with value == sum(queries).
    A failing entry makes it exit non-zero, name the entry on stderr
    and print no line (a partial line would read as a fast run)."""
    from s4_spark.queries import REGISTRY
    from s4_spark.queries.registry import QueryDef
    from tests.conftest import SMOKE_SF_DIR, assert_no_leaks, session_snapshot

    monkeypatch.setattr(bench, "get_spark", lambda **kw: spark)
    monkeypatch.setattr(bench, "SF_DIR", SMOKE_SF_DIR)
    monkeypatch.setattr(bench, "HEADLINE", ["q001_parquet_scan"])
    monkeypatch.setattr(bench, "EXTENDED", ["q257_approx_top_k_sketch"])
    monkeypatch.setattr(bench, "STREAM_N", 3000)
    monkeypatch.delenv("S4_BENCH_WRITE_IDLE", raising=False)
    monkeypatch.setenv("S4_BENCH_RUNS", "1")
    before = session_snapshot(spark)

    bench.main()
    out = capsys.readouterr().out.splitlines()
    assert len(out) == 1, out
    line = json.loads(out[0])
    assert set(line["queries"]) == {"q001_parquet_scan", "stream_ingest_1m"}
    assert set(line["queries_extended"]) == {"q257_approx_top_k_sketch"}
    assert line["value"] == pytest.approx(sum(line["queries"].values()))
    assert line["sf"] == 0.001 and line["env"]["stream_records"] == 3000

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    monkeypatch.setitem(
        REGISTRY, "q999_boom", QueryDef("q999_boom", boom, None, "test")
    )
    monkeypatch.setattr(bench, "HEADLINE", ["q001_parquet_scan", "q999_boom"])
    with pytest.raises(SystemExit) as exit_:
        bench.main()
    assert exit_.value.code != 0
    captured = capsys.readouterr()
    assert captured.out == ""
    assert "q999_boom" in captured.err.splitlines()[-1]
    assert_no_leaks(spark, "bench.main", before)
