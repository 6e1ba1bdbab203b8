"""Spark-free tests of the benchmark itself: seeded generators, metric
names against BENCHMARK.json, and the correctness checkers on corrupted
outputs. Run from the repository root: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import filecmp
import json
import os
import re

import pytest

from perfbench import gen, run
from perfbench.checks import check_landed, check_lookup, multiset_diff
from perfbench.common import Ctx
from perfbench.tracing import Tracer
from perfbench.wl_lakehouse import DimModel

SMALL_CDC = gen.CdcSpec(keys=3_000, segments=6)
SMALL_CORPUS = gen.CorpusSpec(docs=400)


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


# -- generators ---------------------------------------------------------------


def test_cdc_backlog_is_byte_identical_per_seed(tmp_path):
    a = gen.write_cdc_backlog(7, SMALL_CDC, str(tmp_path / "a"))
    b = gen.write_cdc_backlog(7, SMALL_CDC, str(tmp_path / "b"))
    c = gen.write_cdc_backlog(8, SMALL_CDC, str(tmp_path / "c"))
    assert _same_files(tmp_path / "a", tmp_path / "b")
    assert a.pairs == b.pairs and a.n_bytes == b.n_bytes
    assert not _same_files(tmp_path / "a", tmp_path / "c")


def test_cdc_backlog_mix_and_faults():
    lines, truth = gen.cdc_lines(3, gen.CdcSpec(keys=20_000))
    events = [json.loads(line)["value"] for line in lines]
    ops = [e["op"] for e in events if e["source"]["lsn"] is not None]
    real = len(truth.pairs)
    # reference datagen mix: every key inserted once, ~11% updates, ~6% deletes
    assert len({(e["after"] or e["before"])["id"] for e in events}) == 20_000
    assert 0.09 < ops.count("u") / real < 0.13
    assert 0.045 < ops.count("d") / real < 0.075
    # at-least-once replays: ~4% of the real events are delivered twice
    replays = len(ops) - real
    assert 0.03 < replays / real < 0.05
    assert len(events) - len(ops) > 0  # NULL-lsn noise lines
    lsns = [e["source"]["lsn"] for e in events if e["source"]["lsn"] is not None]
    late = sum(1 for x, y in zip(lsns, lsns[1:]) if y < x)
    assert late > replays  # late LSNs land behind newer ones, beyond replays


def test_cdc_update_keys_are_skewed():
    lines, _ = gen.cdc_lines(4, gen.CdcSpec(keys=20_000))
    from collections import Counter

    upd = Counter(
        json.loads(line)["value"]["after"]["id"]
        for line in lines
        if '"op":"u"' in line and '"lsn":null' not in line
    )
    top = sum(n for _, n in upd.most_common(20))
    assert top / sum(upd.values()) > 0.1  # 0.1% of keys take >10% of updates


def test_corpus_is_byte_identical_per_seed(tmp_path):
    pa = gen.write_corpus(5, SMALL_CORPUS, str(tmp_path / "a"))
    pb = gen.write_corpus(5, SMALL_CORPUS, str(tmp_path / "b"))
    gen.write_corpus(6, SMALL_CORPUS, str(tmp_path / "c"))
    assert pa == pb
    assert _same_files(tmp_path / "a", tmp_path / "b")
    assert not _same_files(tmp_path / "a", tmp_path / "c")


def test_corpus_duplicates_come_from_originals_only():
    rows, planted = gen.corpus_docs(9, gen.CorpusSpec(docs=2_000))
    text = dict(rows)
    dups = {d for _, d in planted}
    assert len(planted) == 200
    assert not {o for o, _ in planted} & dups
    assert max(text) < 100_000  # below corpus()'s doc-id offsets
    for o, d in planted:
        a, b = text[o].split(" "), text[d].split(" ")
        assert len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1


# -- metric names -------------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


@pytest.fixture(scope="module")
def bench():
    return run.load_benchmark()


def test_benchmark_json_shape(bench):
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) and len(n) <= 64 for n in names)
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    assert max(bench["end_to_end"], key=lambda m: m["bound"])["name"] == "setup_s"
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_workload_metric_names_match_benchmark_json(bench, workload):
    import importlib

    mod, cls = run.WORKLOADS[workload].split(":")
    wl = getattr(importlib.import_module(mod), cls)(
        Ctx(None, "", 0, Tracer(False, "t"))
    )
    e2e = {"setup_s", *wl.end_to_end()}
    assert e2e == {m["name"] for m in bench["end_to_end"]}
    per_layer = {m["name"] for m in bench["per_layer"]}
    assert set(wl.breakdown()) <= per_layer


# -- checkers -----------------------------------------------------------------


def test_landed_check_rejects_duplicate_and_missing_rows():
    _, truth = gen.cdc_lines(2, SMALL_CDC)
    landed = sorted(truth.pairs) + [(i, None) for i in sorted(truth.null_lsn_ids)]
    assert check_landed(truth.pairs, truth.null_lsn_ids, landed) == []
    dup = landed + [landed[10]]
    assert any("unexpected" in p for p in check_landed(truth.pairs, truth.null_lsn_ids, dup))
    dropped = landed[1:]
    assert any("missing" in p for p in check_landed(truth.pairs, truth.null_lsn_ids, dropped))


def test_scd2_check_rejects_a_dropped_interval():
    intervals = [
        (1, "a", "x", 1.0, 100, 200),
        (1, "b", "x", 2.0, 200, 9_999),
        (2, "c", "y", 3.0, 150, 9_999),
    ]
    assert multiset_diff(intervals, list(reversed(intervals)), "scd2") == []
    problems = multiset_diff(intervals, intervals[:1] + intervals[2:], "scd2")
    assert problems and "1 rows missing" in problems[0]


def test_lakehouse_model_tracks_versions():
    m = DimModel(seed=1, keys=10)
    assert m.value(3, 0) == (gen.dim_name(3, 1), gen.dim_price_cents(3, 1))
    m.upsert(1, [(3, "x", 5), (12, "new", 7)])
    assert m.last_changes == {
        "update_preimage": {3}, "update_postimage": {3}, "insert": {12}
    }
    m.delete(2, [3, 4])
    assert m.value(3, 0)[0] == gen.dim_name(3, 1)
    assert m.value(3, 1) == ("x", 5)
    assert m.value(3, 2) is None and m.value(12, 2) == ("new", 7)
    assert m.value(12, 0) is None
    rows = m.rows(2, 5, 2)
    assert sorted(rows) == [2, 5]
    assert check_lookup(rows, [(2, *rows[2]), (5, *rows[5])]) == []
    assert check_lookup(rows, [(2, *rows[2])]) != []
