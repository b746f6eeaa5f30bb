"""Tests of the benchmark's own pieces (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from perfbench import inputs, procstat, replay, run, spans
from perfbench.workloads import ann_mismatches

HERE = os.path.dirname(os.path.abspath(__file__))


# --- seeded generators --------------------------------------------------------

GENERATORS = {
    "articles": lambda seed: inputs.articles(seed, 30)[0],
    "crawl_small": lambda seed: inputs.crawl_small(seed, 60)[0] + inputs.crawl_small(seed, 60)[1],
    "dedup_chain": lambda seed: inputs.dedup_corpus(seed, 200),
    "ann_topk": lambda seed: inputs.embeddings(seed, 120),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
@pytest.mark.parametrize("seed", [0, 1, 7])
def test_same_seed_same_checksum(name, seed):
    gen = GENERATORS[name]
    assert inputs.checksum(gen(seed)) == inputs.checksum(gen(seed))


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_other_seed_other_checksum(name):
    gen = GENERATORS[name]
    assert len({inputs.checksum(gen(seed)) for seed in (0, 1, 2)}) == 3


def test_checksum_sees_bytes_and_floats():
    assert inputs.checksum([(1, b"a")]) != inputs.checksum([(1, b"b")])
    assert inputs.checksum([(0.1,)]) != inputs.checksum([(0.1000001,)])


def test_articles_rows_carry_their_fixture():
    rows, fixture = inputs.articles(3, 12)
    assert len({(r[0], r[1]) for r in rows}) == 12  # unique keys
    for row, name in zip(rows, fixture):
        assert row[3].startswith(inputs.load_fixture(name))
        assert row[4] == inputs.FIXTURE_URLS[name]


def test_crawl_pages_decode_to_expected_text():
    rows, rules, expected = inputs.crawl_small(5, 80)
    for row, (title, text, label) in zip(rows, expected):
        codec, _ = inputs.CHARSETS[label]
        page = row[3].decode(codec)
        assert f"<p>{text}</p>" in page and f"<title>{title}</title>" in page
        assert row[4] == f"text/html; charset={label}"
    assert {r[9] for r in rules} == {True, False}


def test_dedup_near_duplicates_copy_originals_only():
    docs = inputs.dedup_corpus(4, 300)
    assert [d for d, _ in docs] == list(range(300))
    texts = {d: t for d, t in docs}
    # a near-duplicate shares most of its tokens with some earlier document
    close = 0
    for d, t in docs[1:]:
        toks = t.split(" ")
        if any(
            len(o.split(" ")) == len(toks)
            and sum(a == b for a, b in zip(o.split(" "), toks)) >= 0.7 * len(toks)
            for o in (texts[e] for e in range(d))
        ):
            close += 1
    want = inputs.NEAR_DUP_SHARE * 300
    assert 0.5 * want < close < 2 * want


def test_dedup_corpus_refuses_ids_that_collide_with_copies():
    with pytest.raises(ValueError):
        inputs.dedup_corpus(0, 100000)


# --- spans and self time ------------------------------------------------------

def _span(i, name, start, end, parent=None):
    return spans.Span(i, name, start, end, parent, "r")


def test_covered_merges_overlaps():
    assert spans.covered([]) == 0
    assert spans.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_union_of_children():
    s = [
        _span(0, "root", 0.0, 10.0),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 5.0, 0),  # overlaps a: union 1..5
        _span(3, "c", 2.0, 3.0, 1),  # grandchild: only a's self time shrinks
        _span(4, "d", 9.0, 12.0, 0),  # runs past the parent: clipped to 9..10
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(10 - 4 - 1)
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(2)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3)


def test_tracer_nesting_and_totals():
    clock = iter(range(100)).__next__
    t = spans.Tracer(clock=clock)
    inner = t.wrap("inner", lambda x: x * 2)
    with t.span("outer"):  # starts at 0
        assert inner(2) == 4  # 1..2
        assert inner(3) == 6  # 3..4
    # outer ends at 5
    by_name = {s.name: s for s in t.spans}
    assert by_name["outer"].parent is None
    assert all(s.parent == by_name["outer"].id for s in t.spans if s.name == "inner")
    assert t.totals() == {"outer": 3, "inner": 2}
    assert t.totals(self_time=False) == {"outer": 5, "inner": 2}


def test_tracer_records_span_when_call_raises():
    t = spans.Tracer()
    boom = t.wrap("boom", lambda: 1 / 0)
    with pytest.raises(ZeroDivisionError):
        boom()
    assert [s.name for s in t.spans] == ["boom"] and not t._stack


def test_replay_wrappers_are_restored():
    before = {(id(o), a): o.__dict__[a] for o, a, _ in replay.WRAPPED}
    with pytest.raises(RuntimeError):
        with replay.wrapped(spans.Tracer(), []):
            assert all(o.__dict__[a] is not before[(id(o), a)] for o, a, _ in replay.WRAPPED)
            raise RuntimeError
    assert all(o.__dict__[a] is before[(id(o), a)] for o, a, _ in replay.WRAPPED)


def test_replay_spans_cover_engine_layers():
    rows, fixture = inputs.articles(1, 3)
    docs = [(r[3], r[4], None, None) for r in rows]
    out = replay.run(docs, False, spans.Tracer(), seed=1, sample=3)
    m = out["metrics"]
    assert m["htmldom.parses_per_doc"] >= 2
    assert m["htmldom.parse_s"] > 0 and m["engine.readability_s"] > 0
    assert m["engine.doc_ms.samples"] == 3
    assert out["engine_s"] > 0


def test_percentile_nearest_rank():
    v = list(range(1, 101))
    assert replay.percentile(v, 50) == 50
    assert replay.percentile(v, 99) == 99
    assert replay.percentile(v, 100) == 100
    assert replay.percentile([7], 99) == 7


# --- /proc sampler ------------------------------------------------------------

def test_parse_stat_handles_odd_command_names():
    line = "4242 (a) b (c)) S 17 4242 4242 0 -1 0 0 0 0 0 250 50 3 4 20 0 1 0 99 1000 321 x"
    assert procstat.parse_stat(line) == (17, 300, 321, "S")


def test_tree_follows_descendants_only():
    stats = {1: (0, 0, 0, "S"), 2: (1, 0, 0, "S"), 3: (2, 0, 0, "S"), 4: (1, 0, 0, "S"),
             5: (9, 0, 0, "S")}
    assert procstat.tree(stats, 2) == {2, 3}
    assert procstat.tree(stats, 1) == {1, 2, 3, 4}
    assert procstat.tree(stats, 8) == set()


def test_sampler_counts_child_cpu_and_rss():
    sampler = procstat.TreeSampler(interval=0.05).start()
    child = subprocess.Popen([
        sys.executable, "-c",
        "import time\nb = bytearray(64 << 20)\nt = time.process_time()\n"
        "while time.process_time() - t < 0.6: pass\ntime.sleep(0.3)",
    ])
    try:
        child.wait(timeout=30)
    finally:
        sampler.stop()
    assert child.returncode == 0
    assert sampler.cpu_s >= 0.4
    assert sampler.peak_rss_bytes() >= 64 << 20
    assert sampler.samples >= 5
    assert child.pid not in procstat.live_descendants()


def test_reset_peak_starts_a_new_window():
    sampler = procstat.TreeSampler()
    sampler._peak = {1: 10**6}
    sampler.reset_peak()
    sampler.sample()
    own = sampler.peak_rss_bytes()
    assert 0 < own < 10**6 * procstat.PAGE
    assert sampler.peak_rss_bytes(skip_pid=os.getpid()) == 0


def test_host_ticks_reads_steal_column(tmp_path):
    stat = tmp_path / "stat"
    stat.write_text("cpu  10 0 5 80 1 0 0 4 0 0\ncpu0 1 0 0 0 0 0 0 0 0 0\n")
    assert procstat.host_ticks(str(stat)) == (4, 100)


def test_live_descendants_sees_running_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        deadline = time.monotonic() + 5
        while child.pid not in procstat.live_descendants() and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in procstat.live_descendants()
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.pid not in procstat.live_descendants()


# --- output check and contract ------------------------------------------------

def test_ann_mismatches_accepts_ties_only():
    want = [(1, 10, 0.9, 1), (1, 11, 0.8, 2), (1, 12, 0.8, 3)]
    assert ann_mismatches(want, want, 1) == 0
    swapped_tie = [(1, 10, 0.9, 1), (1, 12, 0.8, 2), (1, 11, 0.8, 3)]
    assert ann_mismatches(swapped_tie, want, 1) == 0
    wrong = [(1, 13, 0.9, 1), (1, 11, 0.8, 2), (1, 12, 0.8, 3)]
    assert ann_mismatches(wrong, want, 1) == 1
    off_score = [(1, 10, 0.95, 1), (1, 11, 0.8, 2), (1, 12, 0.8, 3)]
    assert ann_mismatches(off_score, want, 1) == 1
    assert ann_mismatches([], want, 1) == 1
    assert ann_mismatches([], [], 2) == 2  # expected queries nobody answered


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
