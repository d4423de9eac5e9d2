"""Bench harness contract: the regression diff against like-for-like
history and the standalone-parseable stdout line (the published artifact
must parse from the driver's ~2000-byte tail capture)."""

from __future__ import annotations

import json

import bench


def test_stdout_line_fits_and_parses():
    """Even with hundreds of queries the contract line stays under the
    driver's tail-capture budget, parses standalone, and keeps the
    SLOWEST queries plus all summary keys."""
    timings = {f"some_longish_query_name_{i:03d}": i * 0.01 for i in range(300)}
    line = bench._fit_stdout_line(timings, 5, 0.1, 123.4)
    assert len(line.encode()) <= 1900
    obj = json.loads(line)
    assert obj["value"] == 123.4 and obj["sf"] == 0.1
    assert obj["metric"] == "headline_queries_total_runtime"
    kept = set(obj["queries"])
    assert kept  # something survived
    assert obj["queries_omitted"] == 300 - len(kept) + 5
    # the kept set is exactly the slowest ones
    slowest = sorted(timings, key=timings.get, reverse=True)[: len(kept)]
    assert kept == set(slowest)


def test_stdout_line_small_map_keeps_everything():
    timings = {"a": 1.0, "b": 2.0}
    obj = json.loads(bench._fit_stdout_line(timings, 0, 0.01, 3.0))
    assert obj["queries"] == {"a": 1.0, "b": 2.0}
    assert obj["queries_omitted"] == 0


def test_history_diff_uses_last_entry_of_the_same_kind(
    tmp_path, monkeypatch, capsys
):
    """The regression diff compares against the newest history entry with
    the same sf, core count and subset: newer entries of another sf,
    another core count, a subset run or an entry recording no core count
    never stand in as the baseline."""
    hist = tmp_path / "hist.jsonl"
    rows = [
        {"sf": 0.1, "cpus": "4", "queries": {"a": 1.0}},
        {"sf": 0.1, "cpus": "4", "queries": {"a": 2.0}},  # last match
        {"sf": 0.1, "cpus": "32", "queries": {"a": 0.5}},
        {"sf": 0.1, "cpus": "4", "subset": "heavy20", "queries": {"a": 0.4}},
        {"sf": 1.0, "cpus": "4", "queries": {"a": 0.5}},
        {"sf": 0.1, "queries": {"a": 0.5}},
    ]
    hist.write_text("".join(json.dumps(r) + "\n" for r in rows))
    monkeypatch.setattr(bench, "HISTORY_PATH", str(hist))
    def kept(cpus, subset):
        return [p["queries"]["a"] for p in bench._load_history(0.1, cpus, subset)]

    assert kept("4", "") == [1.0, 2.0]
    assert kept("4", "heavy20") == [0.4]

    # 2.5 s is in band against the last matching entry (2.0 s) but would
    # be a regression against any of the newer non-matching ones
    bench._compare_with_last(0.1, "4", "", {"a": 2.5})
    err = capsys.readouterr().err
    assert "0 regressed" in err and "REGRESSED" not in err
    bench._compare_with_last(0.1, "4", "", {"a": 3.5})
    assert "REGRESSED a: 2.000s -> 3.500s" in capsys.readouterr().err


def test_headline_names_fail_loud_on_unknown():
    """A renamed/removed registry query left in HEADLINE must abort the
    bench, not silently shrink the published headline total (round-6
    measurement-stack review)."""
    import pytest

    ok = {n: object() for n in bench.HEADLINE}
    assert bench.headline_names(ok) == list(bench.HEADLINE)
    broken = dict(ok)
    broken.pop(bench.HEADLINE[3])
    with pytest.raises(SystemExit, match="HEADLINE names not in the registry"):
        bench.headline_names(broken)


def test_parity_rejects_unknown_query_names():
    """A typo'd name on the parity command line used to match nothing and
    print PARITY: PASS — the false green the whole correctness story
    would have leaned on (round-6 measurement-stack review)."""
    import pytest

    from tools.parity import validate_only

    validate_only(set(), {"a": 1})          # no subset: fine
    validate_only({"a"}, {"a": 1, "b": 2})  # known subset: fine
    with pytest.raises(SystemExit, match="unknown query name"):
        validate_only({"a", "typo_name"}, {"a": 1})


def test_parity_count_only_requires_explicit_names(monkeypatch):
    """--count-only is the documented weaker check for giant-output
    queries (values uncollectable by design); invoked WITHOUT explicit
    names it would silently downgrade a whole-registry sweep from
    value-hash to row-count — refuse loudly instead."""
    import sys as _sys

    import pytest

    from tools import parity

    monkeypatch.setattr(
        _sys, "argv", ["parity.py", "--count-only", "/root/testdata/sf0.01"]
    )
    with pytest.raises(SystemExit, match="requires explicit query names"):
        parity.main()


def test_parity_norm_cell_hashes_binary_and_floats():
    """norm_cell must produce hashable, engine-agnostic keys: Spark hands
    back bytearray (unhashable as-is) where DuckDB hands bytes."""
    from collections import Counter

    from tools.parity import multiset, norm_cell

    assert norm_cell(bytearray(b"\x01x")) == norm_cell(b"\x01x")
    assert multiset([(bytearray(b"z"),)], ["c"]) == Counter({(b"z",): 1})
    assert norm_cell(float("nan")) == "NaN"
    assert norm_cell(0.1) == repr(0.1)


def test_bench_parse_sf_loud_on_patternless_dir():
    """An sf-less data dir must abort, not silently label timings sf=0.1
    and poison the regression bands (round-6 measurement-stack review)."""
    import pytest

    assert bench.parse_sf("/root/testdata/sf0.1") == 0.1
    assert bench.parse_sf("/root/repo/testdata_sf1") == 1.0
    assert bench.parse_sf("/x/sf0.001/") == 0.001
    with pytest.raises(SystemExit, match="cannot parse a scale factor"):
        bench.parse_sf("/data/mylake")


