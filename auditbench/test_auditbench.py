"""Tests of the benchmark's own logic: seeded generation, the tail rule
and span self-time arithmetic. No Spark session is needed.

    python3 -m pytest auditbench -q
"""

import os
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Span, Tracer, self_times, union_length  # noqa: E402
from stats import summary, tail  # noqa: E402


def test_feed_is_deterministic_per_seed(tmp_path):
    a = gen.make_feed("temporal_query:7", 200, 3.0, hot_keys=2, hot_events=50)
    b = gen.make_feed("temporal_query:7", 200, 3.0, hot_keys=2, hot_events=50)
    c = gen.make_feed("temporal_query:8", 200, 3.0, hot_keys=2, hot_events=50)
    assert a.events == b.events
    assert a.events != c.events
    pa_, pb = str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")
    a.write(pa_, 0, len(a.events))
    b.write(pb, 0, len(b.events))
    assert pq.read_table(pa_).equals(pq.read_table(pb))


def test_feed_shape_and_record():
    f = gen.make_feed("s", 300, 3.0, hot_keys=2, hot_events=40)
    assert [e.event_id for e in f.events] == list(range(1, len(f.events) + 1))
    assert all(len(f.history[k]) == 40 for k in f.hot_keys)
    for key, idx in f.history.items():
        ops = [f.events[i].op for i in idx]
        assert ops[0] == "I" and "I" not in ops[1:]
        assert "D" not in ops[:-1]
    # the final state is the last after-image of every key not deleted
    state = f.final_state()
    for key, idx in f.history.items():
        last = f.events[idx[-1]]
        assert state.get(key) == (None if last.op == "D" else last.after)


def test_expected_snapshot_rows_follow_the_history():
    f = gen.make_feed("s", 50, 4.0, hot_keys=1, hot_events=30, long_frac=0.3)
    key = f.hot_keys[0]
    rows = f.expected_rows(key, "snapshot")
    evs = [f.events[i] for i in f.history[key]]
    assert len(rows) == len(evs)
    alive = evs[-1].op != "D"
    for ev in evs:
        row = rows[gen.ts_text(ev.event_id)]
        if ev.op == "D":
            assert all(v is None for v in row.values())
            continue
        for c, v in ev.after.items():
            # values read back from a later stored old value are truncated
            assert row[c] in (v, v[: gen.TRUNCATE_LEN])
        if alive and ev is evs[-1]:
            assert row == ev.after


def test_corpus_is_deterministic_and_plants_what_it_records():
    a = gen.make_corpus("corpus_clean:3:plain:0", 100, hot_cluster=20)
    assert a == gen.make_corpus("corpus_clean:3:plain:0", 100, hot_cluster=20)
    assert a != gen.make_corpus("corpus_clean:4:plain:0", 100, hot_cluster=20)
    assert len(a.docs) == 100
    assert len({d for d, _, _ in a.docs}) == 100
    text = {d: t for d, t, _ in a.docs}

    def norm(t):
        return " ".join(t.lower().split())

    for orig, copies in a.exact_dups.items():
        assert all(norm(text[c]) == norm(text[orig]) and c > orig for c in copies)
    hot = max(a.near_dups.values(), key=len)
    assert len(hot) >= 20
    assert a.expected_after_quality == 100 - len(a.low_quality)


def test_tail_is_the_rank_with_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]  # 1..100
    v, pct = tail(values)
    assert (v, pct) == (90.0, 90.0)
    assert sum(x > v for x in values) == 10
    v, pct = tail(list(reversed(values[:40])))
    assert (v, pct) == (30.0, 75.0)


def test_tail_with_few_samples_is_the_maximum():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    assert tail([float(i) for i in range(19)]) == (18.0, 100.0)
    assert tail([float(i) for i in range(20)]) == (9.0, 50.0)
    with pytest.raises(ValueError):
        tail([])
    s = summary([1.0, 2.0, 4.0])
    assert s == {"p50": 2.0, "tail": 4.0, "tail_pct": 100.0, "samples": 3}


def test_union_length_merges_overlaps():
    assert union_length([]) == 0.0
    assert union_length([(0, 1), (2, 3)]) == 2.0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert union_length([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_covered_children():
    spans = [
        Span(1, None, "root", 0.0, 10.0),
        Span(2, 1, "a", 1.0, 4.0),
        Span(3, 1, "b", 3.0, 6.0),  # overlaps a: the union is 1..6
        Span(4, 2, "c", 2.0, 3.0),
        Span(5, 1, "late", 9.0, 12.0),  # clipped to the parent's end
    ]
    own = self_times(spans)
    assert own == {1: 10.0 - 5.0 - 1.0, 2: 2.0, 3: 3.0, 4: 1.0, 5: 3.0}


def test_tracer_nests_spans_and_adopts_other_threads():
    import threading

    clock = iter(range(100)).__next__
    t = Tracer(clock=lambda: float(clock()))
    with t.span("outer") as outer:
        with t.span("inner"):
            pass

        def work():
            with t.span("worker"):
                pass

        th = threading.Thread(target=work)
        th.start()
        th.join(timeout=5)
        assert not th.is_alive()
    by_name = {s.name: s for s in t.spans}
    assert by_name["inner"].parent == outer
    assert by_name["worker"].parent == outer
    assert by_name["outer"].parent is None


def test_wrap_records_and_restore_undoes():
    class Box:
        def f(self, x):
            return x + 1

    t = Tracer()
    t.wrap(Box, "f", "box.f")
    assert Box().f(1) == 2
    assert [s.name for s in t.spans] == ["box.f"]
    t.restore()
    assert Box().f(2) == 3
    assert len(t.spans) == 1
