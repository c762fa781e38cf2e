"""Self-tests of the benchmark's own code.

    python3 -m pytest perfbench/test_perfbench.py -q

Only `test_oracle_agrees_with_build` starts Spark (about 20 s).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import harness  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a = corpus.Generator(7).documents(3, 2_000, 4_000)
    b = corpus.Generator(7).documents(3, 2_000, 4_000)
    c = corpus.Generator(8).documents(3, 2_000, 4_000)
    assert a == b
    assert a != c


def test_generator_fires_every_tokenizer_rule():
    text = "".join(corpus.Generator(3).documents(5, 20_000, 20_000))
    assert any(ch.isupper() for ch in text)
    assert any(ch.isdigit() for ch in text)
    assert "\t" in text and "\n" in text and "'" in text and "-" in text


def test_oracle_applies_the_paper_rules():
    assert corpus.doc_counts("Don'T stop! 42 times\tcat-dog cat") == {
        "dont": 1, "stop": 1, "timescatdog": 1, "cat": 1,
    }


def test_oracle_agrees_with_build(tmp_path):
    if not harness.library_present():
        pytest.skip("library not in this checkout")
    work = str(tmp_path)
    harness.prepare_env(work)
    texts = {
        "d1": "Don'T stop! 42 times\tcat-dog cat",
        "d2": "CAT\ncat  dog's 7\tseas\n\nend.",
        "d3": "123 456",
    }
    oracle = corpus.postings(corpus.write_tree(os.path.join(work, "c"), texts, 2))
    from map_reduce_indexing_spark.api import IndexSession

    spark = harness.start_session(work, trace=False)
    try:
        idx = IndexSession.build(spark, os.path.join(work, "c", "*", "*"),
                                 os.path.join(work, "index"))
        got: dict = {}
        for r in idx.postings().collect():
            got.setdefault(r["word"], {})[r["doc_id"]] = r["cnt"]
    finally:
        spark.stop()
    assert got == oracle
    assert oracle["dont"] == {"d1": 1} and "42" not in oracle
    assert oracle["timescatdog"] == {"d1": 1}  # a tab does not split
    assert oracle["cat"] == {"d1": 1, "d2": 2} and oracle["dogs"] == {"d2": 1}


def test_letter_stats_oracle():
    index = {"apple": {"d1": 2, "d2": 1}, "axe": {"d2": 4}, "bee": {"d3": 1}}
    assert corpus.letter_stats(index) == {"a": (7, 2, 2), "b": (1, 1, 1)}


def test_letter_of_spells_distinct_words():
    words = [corpus.letter_of(n) for n in range(2000)]
    assert len(set(words)) == 2000
    assert all(w.isalpha() and w.islower() for w in words)


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 41)]  # 40 samples
    pct, value = harness.tail(xs)
    assert value == 30.0 and sum(x > value for x in xs) == 10
    assert pct == 75.0
    assert harness.tail([5.0, 1.0, 3.0]) == (100.0, 5.0)
    pct, value = harness.tail([float(i) for i in range(11)])
    assert value == 0.0 and pytest.approx(pct) == 100 / 11


def test_cpu_seconds_counts_busy_time_and_skips_ended_processes():
    before = harness.cpu_seconds([os.getpid()])
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert harness.cpu_seconds([os.getpid()]) - before >= 0.2
    assert harness.cpu_seconds([2**22 + 1]) == 0  # beyond the largest pid Linux allows


def test_union_length_of_job_intervals():
    assert spans.union_length([], 0, 10) == 0
    assert spans.union_length([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert spans.union_length([(1, 3), (3, 4)], 0, 10) == 3
    assert spans.union_length([(-5, 2), (9, 20)], 0, 10) == 3


class _FakeTracer:
    def __init__(self, span_list, jobs):
        self.spans = span_list
        self._jobs = jobs

    def jobs_by_group(self):
        return self._jobs


def test_driver_time_is_wall_minus_union_of_jobs():
    stage = spans.StageStats(tasks=4, cpu_s=1.5, input_bytes=10)
    outer = spans.Span(0, "search.lookup", None, "g0", start=100.0, end=101.0, children=[1])
    inner = spans.Span(1, "indexing.read_index", 0, "g1", start=100.1, end=100.3)
    jobs = {
        "g0": [spans.JobStats(100.2, 100.5, [stage]), spans.JobStats(100.4, 100.6, [stage])],
        "g1": [spans.JobStats(100.15, 100.25, [])],
    }
    st = spans.SpanStats(_FakeTracer([outer, inner], jobs))
    s = st.summary(outer)
    assert s["jobs"] == 3 and s["stages"] == 1 and s["tasks"] == 4
    assert s["job_s"] == pytest.approx(0.45)  # [100.15, 100.6]
    assert s["driver_s"] == pytest.approx(0.55)
    assert st.summary(inner)["driver_s"] == pytest.approx(0.1)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert len(spec["per_layer"]) <= 128
