"""Tests of the benchmark's own logic (no Spark, no index):

    python3 -m pytest perfbench/tests -q
"""

import json
import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import loadgen  # noqa: E402
import spans  # noqa: E402
import workloads as wls  # noqa: E402


# -- seeded generator ---------------------------------------------------------


@pytest.mark.parametrize("name", sorted(wls.WORKLOADS))
def test_request_stream_deterministic_per_seed(name):
    wl = wls.WORKLOADS[name]
    a = wls.RequestStream(wl, 7, "open", set()).take(200)
    b = wls.RequestStream(wl, 7, "open", set()).take(200)
    c = wls.RequestStream(wl, 8, "open", set()).take(200)
    assert a == b
    assert a != c
    assert wls.arrival_schedule(wl.rate, 9.0, 7) == wls.arrival_schedule(wl.rate, 9.0, 7)
    assert wls.arrival_schedule(wl.rate, 9.0, 7) != wls.arrival_schedule(wl.rate, 9.0, 8)


def test_corpus_deterministic_per_seed():
    from deusu_spark import synth

    a = synth.gen_transcripts(20, seed=wls.corpus_seed(3))
    b = synth.gen_transcripts(20, seed=wls.corpus_seed(3))
    c = synth.gen_transcripts(20, seed=wls.corpus_seed(4))
    assert a.equals(b)
    assert not a["text"].equals(c["text"])


def test_take_fixes_op_counts():
    wl = wls.WORKLOADS["serve_tail"]
    reqs = wls.RequestStream(wl, 1, "open", set()).take(405)
    assert sum(r.op == "render" for r in reqs) == round(405 * wls.RENDER_SHARE)
    assert all(r.mode == "deusu" for r in reqs if r.op == "render")
    assert {r.page for r in reqs if r.op == "render"} <= {1, 2, 3}


def test_tail_queries_are_distinct_across_phases():
    wl = wls.WORKLOADS["serve_tail"]
    used: set[str] = set()
    a = wls.RequestStream(wl, 1, "open", used).take(300)
    b = wls.RequestStream(wl, 1, "closed", used).take(300)
    qs = [r.query for r in a + b]
    assert len(set(qs)) == len(qs)


def test_hot_queries_come_from_the_pool():
    wl = wls.WORKLOADS["serve_hot"]
    pool = wls.query_pool()
    assert len(set(pool)) == wls.POOL_SIZE
    assert pool == wls.query_pool()
    reqs = wls.RequestStream(wl, 5, "open").take(500)
    assert {r.query for r in reqs} <= set(pool)
    # Zipf popularity: the most popular string repeats many times
    top = sum(r.query == pool[0] for r in reqs)
    assert top > 500 / wls.POOL_SIZE * 5


def test_arrival_schedule_count_and_range():
    s = wls.arrival_schedule(20.0, 9.0, 3)
    assert len(s) == 180
    assert s == sorted(s)
    assert 0.0 <= s[0] and s[-1] < 9.0


# -- percentile rule --------------------------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    assert loadgen.percentile(list(range(100)), 0.9) == 89
    with pytest.raises(ValueError):
        loadgen.percentile(list(range(99)), 0.9)
    assert loadgen.percentile(list(range(1000)), 0.99) == 989
    with pytest.raises(ValueError):
        loadgen.percentile(list(range(999)), 0.99)
    assert loadgen.percentile(list(range(40)), 0.75) == 29
    with pytest.raises(ValueError):
        loadgen.percentile(list(range(39)), 0.75)


def test_percentile_counts_failures_as_infinite():
    vals = [1.0] * 85 + [math.inf] * 15
    assert loadgen.percentile(vals, 0.5) == 1.0
    assert loadgen.percentile(vals, 0.9) == math.inf


def test_highest_percentile():
    assert loadgen.highest_percentile(1000) == 0.99
    assert loadgen.highest_percentile(200) == 0.95
    assert loadgen.highest_percentile(100) == 0.9
    assert loadgen.highest_percentile(19) is None


# -- open loop: timing from the due time, lateness -------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t

    def sleep(self, d):
        self.t += d + 0.001  # every sleep overshoots by 1 ms


def test_open_loop_times_from_due_and_counts_queueing():
    clk = FakeClock()
    # request 0 takes 0.5 s; requests 1 and 2 were due during it
    cost = [0.5, 0.1, 0.1, 0.1]

    def serve(i):
        clk.t += cost[i]
        return True

    res = loadgen.run_open_loop([0.0, 0.1, 0.2, 1.0], list("ssss"), serve, clk, clk.sleep)
    lat = [s.latency for s in res.samples]
    assert lat[0] == pytest.approx(0.5)
    # due at 0.1, started at 0.5, done at 0.6: 0.5 from its due time
    assert lat[1] == pytest.approx(0.5)
    assert res.samples[1].queue_wait == pytest.approx(0.4)
    assert res.samples[1].service == pytest.approx(0.1)
    assert lat[2] == pytest.approx(0.5)  # due 0.2, done 0.7
    # server idle before request 3: the dispatcher slept and woke 1 ms late
    assert res.samples[3].queue_wait == pytest.approx(0.001)
    assert res.late == [pytest.approx(0.001)]


def test_open_loop_failures_are_infinite():
    clk = FakeClock()

    def serve(i):
        clk.t += 0.01
        if i == 1:
            raise RuntimeError("boom")
        return i != 2

    res = loadgen.run_open_loop([0.0, 0.0, 0.0, 0.0], list("ssss"), serve, clk, clk.sleep)
    assert [s.ok for s in res.samples] == [True, False, False, True]
    assert res.latencies()[1] == math.inf and res.latencies()[2] == math.inf


def test_closed_loop_serves_the_list_back_to_back():
    clk = FakeClock()

    def serve(i):
        clk.t += 0.25
        return i != 2

    samples, elapsed = loadgen.run_closed_loop(4, list("srss"), serve, clk)
    assert [s.op for s in samples] == list("srss")
    assert [s.ok for s in samples] == [True, True, False, True]
    assert elapsed == pytest.approx(1.0)
    assert [s.start for s in samples] == pytest.approx([0.0, 0.25, 0.5, 0.75])


def test_hot_closed_list_is_balanced_over_the_pool():
    wl = wls.WORKLOADS["serve_hot"]
    reqs = wls.closed_list(wl, 4, set())
    pool = wls.query_pool()
    assert len(reqs) == wl.closed_requests == 3 * len(pool)
    assert sorted(r.query for r in reqs if r.op == "render") == sorted(pool)
    assert sorted(r.query for r in reqs if r.op == "search") == sorted(pool * 2)
    assert all(r.mode == "deusu" for r in reqs)
    assert reqs == wls.closed_list(wl, 4, set())
    assert reqs != wls.closed_list(wl, 5, set())


# -- self-time arithmetic -----------------------------------------------------------


def S(i, parent, start, end, name="x"):
    return spans.Span(i, parent, name, start, end, 0)


def test_self_time_subtracts_children():
    sp = [
        S(0, None, 0.0, 10.0, "root"),
        S(1, 0, 1.0, 4.0, "a"),
        S(2, 0, 5.0, 6.0, "b"),
        S(3, 1, 2.0, 3.0, "c"),
    ]
    st = spans.self_times(sp)
    assert st == {0: pytest.approx(6.0), 1: pytest.approx(2.0), 2: pytest.approx(1.0), 3: pytest.approx(1.0)}
    # the self times of a tree add up to the root's duration
    assert spans.tree_self_sum(st, spans.children(sp), 0) == pytest.approx(10.0)


def test_self_time_overlapping_and_overhanging_children():
    sp = [
        S(0, None, 0.0, 10.0),
        S(1, 0, 1.0, 5.0),
        S(2, 0, 3.0, 7.0),  # overlaps child 1 (threads)
        S(3, 0, 9.0, 12.0),  # runs past the parent's end
    ]
    assert spans.self_times(sp)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_layer_totals_group_by_name():
    sp = [
        S(0, None, 0.0, 2.0, "search"),
        S(1, 0, 0.5, 1.0, "decode"),
        S(2, None, 3.0, 4.0, "search"),
        S(3, 2, 3.0, 3.5, "decode"),
    ]
    lt = spans.layer_totals(sp)
    assert lt["search"] == (pytest.approx(2.0), 2)
    assert lt["decode"] == (pytest.approx(1.0), 2)


def test_tracer_wraps_nests_and_restores():
    class Mod:
        @staticmethod
        def outer(x):
            return Mod.inner(x) + 1

        @staticmethod
        def inner(x):
            return x * 2

    t = spans.Tracer()
    t.wrap(Mod, "outer", "outer")
    t.wrap(Mod, "inner", "inner", lambda a, r: {"x": a[0]})
    t.request = 7
    assert Mod.outer(3) == 7
    t.restore()
    assert not hasattr(Mod.outer, "__wrapped__")
    inner, outer = t.spans
    assert (inner.name, outer.name) == ("inner", "outer")
    assert inner.parent == outer.id and outer.parent is None
    assert inner.request == outer.request == 7
    assert inner.attrs == {"x": 3}


def test_spark_event_totals_by_group_and_window(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "build"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 5000, "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 500,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 3e6},
                          "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 1e6}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {}},
    ]
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in evs[:2]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in evs[2:]) + "\n")
    tot = spans.spark_event_totals(str(d), {"build": (0.0, 2.0), "query": (4.0, 6.0)})
    assert tot["build"] == {"jobs": 1, "tasks": 1, "cpu_s": 2.0, "gc_s": 0.5,
                            "shuffle_write_mb": 3.0, "spill_mb": 1.0}
    assert tot["query"]["jobs"] == 1 and tot["query"]["failed_tasks"] == 1


def test_tail_mix_is_the_same_on_every_seed():
    wl = wls.WORKLOADS["serve_tail"]
    a = wls.closed_list(wl, 1, set())
    b = wls.closed_list(wl, 2, set())

    def shape(r):
        words = r.query.split()
        return (r.op, r.mode, len(words), sum(w.lstrip("-") in wls.HOT for w in words))

    # all but the requests whose shape was used up (a lone hot term)
    assert sum(shape(x) == shape(y) for x, y in zip(a, b)) >= 0.9 * len(a)
    assert len({r.query for r in a} & {r.query for r in b}) < 0.2 * len(a)


def test_stop_child_ends_the_whole_process_group():
    import subprocess

    import run

    p = subprocess.Popen(
        ["bash", "-c", "sleep 60 & echo $! ; wait"],
        stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    grandchild = int(p.stdout.readline())
    run.stop_child(p)
    p.stdout.close()
    assert p.returncode is not None
    with pytest.raises(ProcessLookupError):
        os.kill(grandchild, 0)
