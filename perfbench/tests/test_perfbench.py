"""Self-tests of the benchmark's own machinery; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import filecmp
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402


# ------------------------------------------------------- percentile rule

def test_tail_leaves_exactly_ten_samples_beyond():
    values = list(range(100))
    value, pct = spans.tail(values)
    assert sum(1 for v in values if v > value) == 10
    assert value == 89 and pct == 90.0


def test_tail_is_order_insensitive():
    assert spans.tail(list(range(30))) == spans.tail(list(range(29, -1, -1)))


def test_tail_falls_back_to_median_without_ten_beyond_the_median():
    # 15 samples: the only candidates with >= 10 beyond lie below the median
    values = [float(i) for i in range(15)]
    assert spans.tail(values) == (7.0, 50.0)
    # 20 samples: the lower median is the first with exactly ten beyond
    assert spans.tail([float(i) for i in range(20)]) == (9.0, 50.0)
    assert spans.tail([3.0]) == (3.0, 50.0)


def test_median_even_and_odd():
    assert spans.median([3, 1, 2]) == 2
    assert spans.median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        spans.median([])


# ------------------------------------------------------------ self time

def test_self_time_subtracts_the_union_of_child_intervals():
    parent = spans.Span(seq=0, name="p", start=0.0, end=10.0)
    kids = [spans.Span(seq=1, name="a", start=1.0, end=3.0),
            spans.Span(seq=2, name="b", start=2.0, end=5.0),   # overlaps a
            spans.Span(seq=3, name="c", start=8.0, end=12.0)]  # runs past p
    assert spans.self_time(parent, kids) == pytest.approx(10 - 4 - 2)


def test_self_time_without_children_is_the_span():
    sp = spans.Span(seq=0, name="p", start=5.0, end=7.5)
    assert spans.self_time(sp, []) == 2.5


def test_tracer_records_parents_and_pass_numbers():
    tr = spans.Tracer()
    tr.pass_no = 3
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.seq and outer.parent is None
    assert inner.pass_no == outer.pass_no == 3
    assert outer.start <= inner.start <= inner.end <= outer.end


# ------------------------------------------------ REST -> counters

def _rest_ts(t: float) -> str:
    d = dt.datetime.fromtimestamp(t, dt.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{d.microsecond // 1000:03d}GMT"


T0 = 1_700_000_000.0


def _canned():
    root = spans.Span(seq=0, name="w.pass", start=T0, end=T0 + 10, pass_no=1,
                      group="pb0")
    a = spans.Span(seq=1, name="layer.a", start=T0 + 1, end=T0 + 5, parent=0,
                   pass_no=1, group="pb1")
    b = spans.Span(seq=2, name="layer.b", start=T0 + 6, end=T0 + 9, parent=0,
                   pass_no=1, group="pb2")
    jobs = [
        {"jobId": 0, "jobGroup": "pb1", "status": "SUCCEEDED", "stageIds": [0, 1],
         "submissionTime": _rest_ts(T0 + 1), "completionTime": _rest_ts(T0 + 3)},
        {"jobId": 1, "jobGroup": "pb1", "status": "SUCCEEDED", "stageIds": [1, 2],
         "submissionTime": _rest_ts(T0 + 2.5), "completionTime": _rest_ts(T0 + 4)},
        # launched from a helper thread: no group, attributed by time
        {"jobId": 2, "status": "SUCCEEDED", "stageIds": [3],
         "submissionTime": _rest_ts(T0 + 7), "completionTime": _rest_ts(T0 + 8)},
        # reuses stage 0's shuffle output: stage 0 is listed but skipped
        {"jobId": 3, "jobGroup": "pb0", "status": "SUCCEEDED", "stageIds": [0, 4],
         "submissionTime": _rest_ts(T0 + 5.5), "completionTime": _rest_ts(T0 + 6)},
    ]

    def stage(sid, run_ms, shuffle=0, spill=0, wait_ms=0, rows=0, attempt=0):
        return {"stageId": sid, "attemptId": attempt, "status": "COMPLETE",
                "executorRunTime": run_ms, "shuffleWriteBytes": shuffle,
                "memoryBytesSpilled": spill, "shuffleFetchWaitTime": wait_ms,
                "inputRecords": rows}

    stages = [stage(0, 1000, shuffle=2_000_000, rows=50),
              stage(1, 500, spill=3_000_000, wait_ms=250),
              stage(1, 250, attempt=1),            # a retried attempt counts too
              stage(2, 0),                          # skipped stage
              stage(3, 4000, rows=7),
              stage(4, 100)]
    return [root, a, b], jobs, stages


def test_layer_table_aggregates_rest_counters():
    sp, jobs, stages = _canned()
    out = spans.layer_table(sp, jobs, stages, passes={1})
    assert out["jobs_total"] == out["jobs_attributed"] == 4
    assert out["jobs_by_thread_fallback"] == 1
    a = out["spans"]["layer.a"]
    assert a["jobs"] == 2
    assert a["task_s"] == pytest.approx(1.75)
    assert a["shuffle_mb"] == pytest.approx(2.0)
    assert a["spill_mb"] == pytest.approx(3.0)
    assert a["fetch_wait_s"] == pytest.approx(0.25)
    assert a["input_rows"] == 50
    # jobs cover [1, 4] of the span [1, 5]
    assert a["driver_s"] == pytest.approx(1.0)
    b = out["spans"]["layer.b"]
    assert b["jobs"] == 1 and b["task_s"] == pytest.approx(4.0)
    assert b["driver_s"] == pytest.approx(2.0)
    root = out["spans"]["w.pass"]
    assert root["s"] == pytest.approx(10.0)
    assert root["self_s"] == pytest.approx(3.0)
    # the root's own job covers [5.5, 6] of its self time; the reused
    # stage 0 stays with layer.a
    assert root["jobs"] == 1 and root["driver_s"] == pytest.approx(2.5)
    assert root["task_s"] == pytest.approx(0.1) and root["shuffle_mb"] == 0


def test_layer_table_takes_the_median_over_passes_of_per_pass_sums():
    mk = spans.Span
    sp = [mk(seq=0, name="x", start=0, end=1, pass_no=1),
          mk(seq=1, name="x", start=1, end=2, pass_no=1),
          mk(seq=2, name="x", start=2, end=5, pass_no=2),
          mk(seq=3, name="x", start=5, end=9, pass_no=3),
          mk(seq=4, name="x", start=9, end=99, pass_no=4)]
    out = spans.layer_table(sp, [], [], passes={1, 2, 3})
    assert out["spans"]["x"]["s"] == pytest.approx(3.0)


def test_utilization_counts_only_the_timed_passes():
    sp, jobs, stages = _canned()
    # a set-up span (pass -1) with a child whose job ran 40 task-seconds
    setup = spans.Span(seq=3, name="setup", start=T0 - 20, end=T0 - 1,
                       pass_no=-1, group="pb3")
    build = spans.Span(seq=4, name="layer.build", start=T0 - 19, end=T0 - 2,
                       parent=3, pass_no=-1, group="pb4")
    jobs.append({"jobId": 4, "jobGroup": "pb4", "status": "SUCCEEDED",
                 "stageIds": [5], "submissionTime": _rest_ts(T0 - 18),
                 "completionTime": _rest_ts(T0 - 3)})
    stages.append({"stageId": 5, "attemptId": 0, "executorRunTime": 40_000})
    out = spans.layer_table(sp + [setup, build], jobs, stages, passes={1})
    # pass 1: 1.75 (a) + 4.0 (b) + 0.1 (root's own job) task-seconds
    assert out["pass_task_s"][1] == pytest.approx(5.85)
    assert out["pass_task_s"][-1] == pytest.approx(40.0)
    util = spans.utilization(sp + [setup, build], out["pass_task_s"], "w.pass",
                             {1}, nproc=4)
    assert util == pytest.approx(5.85 / (10.0 * 4))
    assert "layer.build" not in out["spans"]
    assert spans.layer_table(sp + [setup, build], jobs, stages,
                             passes={-1})["spans"]["layer.build"]["task_s"] == 40.0


def test_unattributed_jobs_show_in_the_reconciliation():
    sp, jobs, stages = _canned()
    jobs.append({"jobId": 9, "status": "SUCCEEDED", "stageIds": [],
                 "submissionTime": _rest_ts(T0 + 50)})
    out = spans.layer_table(sp, jobs, stages, passes={1})
    assert out["jobs_total"] == 5 and out["jobs_attributed"] == 4


# -------------------------------------------------------- output checks

def test_ndcg_matches_the_textbook_definition():
    assert workloads.ndcg_at_k([1, 2, 3], [1, 2, 3], 3) == pytest.approx(1.0)
    assert workloads.ndcg_at_k([9, 8], [1], 2) == 0.0
    # one hit at rank 2 of two actual items
    want = (1 / 1.584962500721156) / (1 + 1 / 1.584962500721156)
    assert workloads.ndcg_at_k([9, 1], [1, 2], 30) == pytest.approx(want)


def test_packing_check_accepts_a_valid_layout_and_rejects_overflow():
    cap = 10
    layout = [{"start_offset": 0, "n_tok": 7, "first_chunk": 0, "last_chunk": 0},
              {"start_offset": 7, "n_tok": 8, "first_chunk": 0, "last_chunk": 1}]
    summary = {"n_chunks": 2, "n_docs_packed": 2}
    assert workloads.check_packing(layout, cap, summary, 2) == []
    bad = [dict(layout[0]), dict(layout[1], start_offset=6)]
    assert workloads.check_packing(bad, cap, summary, 2)
    assert workloads.check_packing(layout, cap, dict(summary, n_chunks=3), 2)


# ------------------------------------------------ generator determinism

def _generate_all(root: str, seed: int) -> None:
    gen.recsys(os.path.join(root, "recsys"), seed, 60, 120)
    gen.corpus(os.path.join(root, "corpus"), seed, 300, 20)
    gen.serve(os.path.join(root, "serve"), seed, 100, 40,
              [["keyword", "mlt"], ["append", "keyword"]])
    gen.embeddings(os.path.join(root, "catalog"), seed, 120)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generators_are_byte_identical_for_one_seed(tmp_path):
    _generate_all(str(tmp_path / "a"), 7)
    _generate_all(str(tmp_path / "b"), 7)
    _generate_all(str(tmp_path / "c"), 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    for table in ("corpus/documents", "serve/docs", "recsys/starring"):
        assert not filecmp.cmp(str(tmp_path / "a" / f"{table}.parquet"),
                               str(tmp_path / "c" / f"{table}.parquet"),
                               shallow=False)


def test_corpus_manifest_plants_what_it_claims(tmp_path):
    import pyarrow.parquet as pq

    m = gen.corpus(str(tmp_path), 3, 400, 20)
    docs = pq.read_table(str(tmp_path / "documents.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    assert len(docs["doc_id"]) == m["n_docs"]
    for grp in m["exact_groups"]:
        assert len({text[i] for i in grp}) == 1
    for a, b in m["near_pairs"]:
        assert text[a] != text[b] and text[a].split()[:-1] == text[b].split()[:-1]
    assert m["n_after_host_cap"] < m["n_after_url_dedup"] < m["n_docs"]
